package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import graft.metrics.GraftMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** One timed operation of a run: a flush (a streaming trigger, or the SQL
  * MERGE in `read-mix`) or a read (lookup, scan, changes), made in loop
  * step `step`. */
final case class Op(
    id: Int,
    step: Int,
    kind: String,
    start: Long,
    end: Long,
    wallMs: Double,
    rows: Long,
    ok: Boolean,
    traced: Boolean,
    progress: Seq[StreamingQueryProgress] = Nil,
    sensors: Map[String, (Long, Double)] = Map.empty,
    fs: Map[String, Long] = Map.empty,
    dlq: Long = 0L,
    filesAdded: Long = 0L)

object Op {
  val Flush = "flush"
  val Lookup = "lookup"
  val Scan = "scan"
  val Changes = "changes"
  val Reads: Set[String] = Set(Lookup, Scan, Changes)
}

/** What an operation body reports back: rows it wrote or returned,
  * whether its output matched the model, and for a trigger the progress
  * records of the micro-batches it committed. */
final case class Outcome(rows: Long, ok: Boolean,
    progress: Seq[StreamingQueryProgress] = Nil)

/** Times operations and, in a traced run, records what each layer did
  * during every other operation of each kind.
  *
  * A traced operation runs with the listeners installed and is followed by
  * a drain of Spark's listener bus; an untraced one runs with none. The
  * two halves interleave on the same growing tables, so the difference of
  * their medians is the tracing overhead. */
final class Recorder(spark: SparkSession, trace: Boolean, warehouse: => File) {
  val ops = ArrayBuffer.empty[Op]
  val tracer: Option[Tracer] = if (trace) Some(new Tracer) else None
  /** The loop step the next operations belong to. */
  var step = 0

  def run(kind: String)(body: => Outcome): Op = {
    val id = ops.size
    val traced = tracer.isDefined && ops.count(_.kind == kind) % 2 == 0
    if (traced) tracer.foreach { t => t.op = id; Tracer.install(spark, t) }
    val files0 = if (traced) Recorder.dataFiles(warehouse) else Set.empty[String]
    val sensors0 = if (traced) GraftMetrics.totalsMs() else Map.empty[String, (Long, Double)]
    val fs0 = if (traced) Recorder.fsStats() else Map.empty[String, Long]
    val dlq0 = GraftMetrics.dlqRecords.sum()
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try body catch {
      case e: Exception =>
        System.err.println(s"[ingestbench] $kind op $id failed: " +
          e.toString.linesIterator.take(3).mkString(" | ") + " at " +
          e.getStackTrace.take(4).mkString(" < "))
        Outcome(0L, ok = false)
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val end = System.currentTimeMillis()
    val op = Op(id, step, kind, start, end, wallMs, out.rows, out.ok, traced,
      out.progress,
      if (traced) Recorder.delta(sensors0, GraftMetrics.totalsMs()) else Map.empty,
      if (traced) Recorder.fsDelta(fs0, Recorder.fsStats()) else Map.empty,
      GraftMetrics.dlqRecords.sum() - dlq0,
      if (traced) (Recorder.dataFiles(warehouse) -- files0).size.toLong else 0L)
    ops += op
    if (traced) tracer.foreach { t => t.drain(); Tracer.uninstall(spark, t) }
    op
  }
}

object Recorder {
  /** Parquet files under the warehouse. */
  def dataFiles(root: File): Set[String] = {
    import scala.jdk.CollectionConverters._
    if (!root.exists) Set.empty
    else {
      val w = Files.walk(root.toPath)
      try w.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally w.close()
    }
  }

  def delta(a: Map[String, (Long, Double)],
      b: Map[String, (Long, Double)]): Map[String, (Long, Double)] =
    b.flatMap { case (k, (c, ms)) =>
      val (c0, ms0) = a.getOrElse(k, (0L, 0.0))
      if (c == c0) None else Some(k -> ((c - c0, ms - ms0)))
    }

  /** Bytes from Hadoop's `file`-scheme statistics, operation counts from
    * [[CountingLocalFileSystem]]. */
  def fsStats(): Map[String, Long] = {
    val local = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
    def stat(key: String): Long =
      local.flatMap(s => Option(s.getLong(key))).map(_.longValue).getOrElse(0L)
    CountingLocalFileSystem.snapshot() ++ Map(
      "bytes_read" -> stat("bytesRead"), "bytes_written" -> stat("bytesWritten"))
  }

  def fsDelta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** A Kafka topic with a standing backlog, as a file-stream source.
  *
  * Set-up writes each trigger's records as one text file per simulated
  * partition under `staged/<k>/`; releasing trigger `k` is one atomic
  * directory rename into `live/`, so the stream sees all of a trigger's
  * files or none. A line is `topic \t partition \t offset \t value`; the
  * frame exposes the Kafka column shape the pipeline reads. */
final class StagedSource(spark: SparkSession, root: File) {
  /** Simulated Kafka partitions: files per trigger. */
  val partitions = 8
  private val staged = new File(root, "staged")
  private val live = new File(root, "live")
  live.mkdirs(); staged.mkdirs()
  private val offsets = scala.collection.mutable.Map.empty[(String, Int), Long]
    .withDefaultValue(0L)
  private val counts = scala.collection.mutable.Map.empty[Int, Long]

  /** Stage trigger `k`: `records` are (topic, partition, value). */
  def stage(k: Int, records: Iterator[(String, Int, String)]): Unit = {
    val dir = new File(staged, f"$k%06d")
    dir.mkdirs()
    val writers = Array.tabulate(partitions) { p =>
      new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, f"part-$p%02d.txt")),
        StandardCharsets.UTF_8), 1 << 16)
    }
    var n = 0L
    try records.foreach { case (topic, p, value) =>
      val off = offsets((topic, p))
      offsets((topic, p)) = off + 1
      val w = writers(p)
      w.write(topic); w.write('\t'); w.write(p.toString); w.write('\t')
      w.write(off.toString); w.write('\t'); w.write(value); w.write('\n')
      n += 1
    } finally writers.foreach(_.close())
    counts(k) = n
  }

  def records(k: Int): Long = counts(k)

  def release(k: Int): Unit =
    Files.move(new File(staged, f"$k%06d").toPath, new File(live, f"$k%06d").toPath,
      StandardCopyOption.ATOMIC_MOVE)

  def frame: DataFrame = {
    val parts = split(col("value"), "\t", 4)
    spark.readStream.text(live.getPath + "/*").select(
      parts.getItem(0).as("topic"),
      parts.getItem(1).cast("int").as("partition"),
      parts.getItem(2).cast("long").as("offset"),
      parts.getItem(3).cast("binary").as("value"))
  }
}

/** Drives a started streaming query as a closed-loop client. */
final class StreamDriver(val query: StreamingQuery) {
  private val seen = scala.collection.mutable.LinkedHashMap.empty[Long, StreamingQueryProgress]
  private var committed = 0L

  private def poll(): Seq[StreamingQueryProgress] = {
    val fresh = query.recentProgress.filter(p => p.numInputRows > 0 && !seen.contains(p.batchId))
    fresh.foreach { p => seen(p.batchId) = p; committed += p.numInputRows }
    fresh.toSeq
  }

  /** Block until the stream has committed `target` input rows in total;
    * returns the progress of the micro-batches committed meanwhile. */
  def awaitRows(target: Long, timeoutMs: Long = 120000L): Seq[StreamingQueryProgress] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    val got = ArrayBuffer.empty[StreamingQueryProgress]
    got ++= poll()
    while (committed < target) {
      require(System.currentTimeMillis() < deadline,
        s"stream committed $committed of $target rows before the timeout")
      query.processAllAvailable()
      got ++= poll()
    }
    got.toSeq
  }
}

/** Deterministic randomness: every generator draws from a stream derived
  * from the run seed and its own coordinates, so inputs depend only on the
  * seed. */
object Rng {
  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(xs: Long*): java.util.SplittableRandom = new java.util.SplittableRandom(mix(xs: _*))
}

/** Spark's `hash(...)` (Murmur3, seed 42) evaluated on the driver, so a
  * model can be compared with a table by an order-independent sum. */
object SparkHash {
  import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  def apply(values: Any*): Int = values.foldLeft(42) { (h, v) =>
    v match {
      case l: Long => Murmur3HashFunction.hash(l, LongType, h).toInt
      case i: Int => Murmur3HashFunction.hash(i, IntegerType, h).toInt
      case s: String => Murmur3HashFunction.hash(UTF8String.fromString(s), StringType, h).toInt
      case null => h
      case other => throw new IllegalArgumentException(s"no hash for $other")
    }
  }
}

/** Small shared helpers. */
object Util {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def timedMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** An integral column as a long: schema inference lands JSON integers
    * as INT or BIGINT depending on their range. */
  def long(r: Row, i: Int): Long = r.getAs[Number](i).longValue
}
