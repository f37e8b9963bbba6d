package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession
import graft.catalog.GraftCatalog
import graft.ingest._
import org.apache.spark.sql.{Row, SparkSession}

import Util.long

/** A benchmark workload: built from nothing by [[setup]], then driven as
  * one closed-loop client by [[step]] until the run's time is up. */
trait Workload {
  /** Build everything the timed loop needs under `dir` (fresh per call). */
  def setup(dir: File, attempt: Int): Unit
  /** One loop iteration, its operations timed through `rec` and checked
    * against the model; false when the staged input is used up. */
  def step(rec: Recorder): Boolean
  /** Untimed [[warmStep]]s on the kept set-up, before timing, for a
    * workload whose first steps on a fresh set-up run slower than later
    * ones. */
  def settleSteps: Int = 0
  /** One warm-up iteration: the code paths of [[step]], at less cost. */
  def warmStep(rec: Recorder): Boolean = step(rec)
  /** Stop background work (the stream) before reads and gates. */
  def quiesce(): Unit
  /** Final correctness gates: (name, passed, detail). */
  def gates(): Seq[(String, Boolean, String)]
  /** Workload-specific per-layer metrics (operators, catalog state). */
  def layerMetrics(): Map[String, Double]
  /** Rows live in the workload's tables at the end of the run. */
  def liveRows(): Long
  def warehouse: File
  /** Resolve the main table through the lake API (a read's catalog share). */
  def readCall(): Unit
}

object Workload {
  val names: Seq[String] = Seq("append-json", "upsert-pk", "curate-text", "read-mix")

  def apply(name: String, spark: SparkSession, seed: Long, seconds: Int): Workload =
    name match {
      case "append-json" => new AppendJson(spark, seed, seconds)
      case "upsert-pk" => new UpsertPk(spark, seed, seconds)
      case "curate-text" => new CurateText(spark, seed, seconds)
      case "read-mix" => new ReadMix(spark, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${names.mkString(", ")})")
    }

  /** Word list the text generators draw from: pronounceable, distinct. */
  val vocabulary: Array[String] = {
    val r = Rng(7L)
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 5000) {
      val syll = 2 + r.nextInt(2)
      seen += (0 until syll).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    }
    seen.toArray
  }
}

/** Common body of the three workloads that drive [[IngestPipeline.start]]:
  * stage the triggers, start the stream, and per step release one trigger
  * and read the table it landed in (read-your-writes, with the stream
  * running and idle). */
abstract class IngestWorkload(spark: SparkSession, seed: Long, seconds: Int)
    extends Workload {

  /** Triggers the stream lands during set-up, before timing starts. */
  protected val warmupTriggers = 1
  /** A lower bound on one trigger's wall time, to size the staged input:
    * when it runs out the loop ends early and says so. */
  protected def floorMsPerTrigger: Int
  protected def config(warehouse: String): IngestConfig
  /** Trigger `k`'s records as (topic, partition, value). */
  protected def generate(k: Int): Iterator[(String, Int, String)]
  /** The table the read phase and its gates look at. */
  protected def mainTable: String
  protected def lookup(r: java.util.SplittableRandom): Outcome
  protected def scan(r: java.util.SplittableRandom): Outcome
  /** Change-feed rows of the last landing commit: (post-images,
    * pre-images). */
  protected def lastLanding: (Long, Long)

  protected var dir: File = _
  protected var catalog: String = _
  protected var source: StagedSource = _
  protected var pipeline: IngestPipeline = _
  protected var driver: StreamDriver = _
  protected var gs: GraftSession = _
  /** Triggers released so far (warm-up included). */
  protected var released = 0
  private var releasedRows = 0L
  private var staged = 0

  def warehouse: File = new File(dir, "lake")

  protected def resetModel(): Unit

  def setup(d: File, attempt: Int): Unit = {
    dir = d
    resetModel()
    released = 0; releasedRows = 0L
    source = new StagedSource(spark, new File(dir, "source"))
    staged = warmupTriggers + math.ceil(seconds * 1000.0 / floorMsPerTrigger).toInt
    (0 until staged).foreach(k => source.stage(k, generate(k)))
    catalog = s"lake$attempt"
    spark.conf.set(s"spark.sql.catalog.$catalog", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", warehouse.getPath)
    pipeline = new IngestPipeline(spark, config(warehouse.getPath))
    gs = new GraftSession(spark, pipeline.lake)
    (0 until warmupTriggers).foreach(_ => releaseNext())
    driver = new StreamDriver(pipeline.start(source.frame,
      new File(dir, "checkpoint").getPath))
    driver.awaitRows(releasedRows)
    afterWarmup()
  }

  /** Model and table changes that follow the warm-up triggers. */
  protected def afterWarmup(): Unit = ()

  private def releaseNext(): Unit = {
    source.release(released)
    releasedRows += source.records(released)
    released += 1
  }

  /** Reads after each trigger: lookups, range aggregates, change reads.
    * The first read of a kind after a trigger pays the new version's cold
    * cost and the later ones do not, so each kind runs three times and a
    * run's median lands on the repeat reads, not between the two. */
  protected val readsPerStep: (Int, Int, Int) = (3, 3, 3)

  def step(rec: Recorder): Boolean = {
    if (released >= staged) return false
    val k = released
    rec.run(Op.Flush) {
      releaseNext()
      val progress = driver.awaitRows(releasedRows)
      Outcome(source.records(k), ok = true, progress)
    }
    afterFlush(k)
    val r = Rng(seed, 0xBEEFL, k)
    val (lookups, scans, changeReads) = readsPerStep
    (0 until lookups).foreach(_ => rec.run(Op.Lookup)(lookup(r)))
    (0 until scans).foreach(_ => rec.run(Op.Scan)(scan(r)))
    (0 until changeReads).foreach(_ => rec.run(Op.Changes)(changes()))
    true
  }

  /** Model changes that follow trigger `k`'s flush. */
  protected def afterFlush(k: Int): Unit = ()

  def quiesce(): Unit = if (driver != null && driver.query.isActive) {
    driver.query.stop()
    driver.query.awaitTermination()
  }

  protected def table(t: String): String = s"$catalog.`$t`"

  def readCall(): Unit = pipeline.lake.read(mainTable)

  /** The change feed of the main table over its last landing commit (the
    * newest commit that wrote records, not a compaction or an expiry):
    * post-images must be the records that commit landed, pre-images the
    * rows it replaced. */
  private def changes(): Outcome = {
    val lake = pipeline.lake
    val latest = lake.latestVersion(mainTable).get
    val landing = lake.operationsBetween(mainTable, latest - 64, latest)
      .filter { case (_, op) => IngestWorkload.LandingOps(op) }.last._1
    val got = gs.sql(
      s"SELECT _change_type, count(*) FROM table_changes('$catalog.$mainTable', " +
        s"${landing - 1}, $landing) GROUP BY _change_type").collect()
      .map(r => r.getString(0) -> long(r, 1)).toMap
    def n(types: String*) = types.map(got.getOrElse(_, 0L)).sum
    val (post, pre) = lastLanding
    Outcome(got.values.sum, n("insert", "update_postimage") == post &&
      n("delete", "update_preimage") == pre)
  }

  protected def count(t: String): Long =
    gs.sql(s"SELECT count(*) FROM ${table(t)}").head().getLong(0)
}

object IngestWorkload {
  /** Commit labels of a flush's landing write. */
  val LandingOps: Set[String] = Set("append", "upsert")
}

/** `append-json`: schemaless JSON over four topics with a 40/30/20/10
  * skew, no PKs. Every 8th trigger adds an optional field to one topic;
  * 0.5 % of records are malformed and go to the DLQ; auto-compaction is
  * on. */
final class AppendJson(spark: SparkSession, seed: Long, seconds: Int)
    extends IngestWorkload(spark, seed, seconds) {
  private val topics = Seq("clicks" -> 20000, "orders" -> 15000,
    "payments" -> 10000, "sessions" -> 5000)
  protected def floorMsPerTrigger = 1000
  protected def mainTable = "clicks"

  protected def config(wh: String) = IngestConfig(wh, triggerMs = 0L,
    autoCompact = topics.map(_._1 -> CompactionConfig(minFiles = 8)).toMap)

  protected def resetModel(): Unit = ()

  private def malformed(t: Int, seq: Long): Boolean =
    Rng(seed, 11L, t, seq).nextDouble() < 0.005
  private def user(t: Int, seq: Long): Long = Rng(seed, 12L, t, seq).nextLong(100000L)
  private def amount(t: Int, seq: Long): Long = Rng(seed, 13L, t, seq).nextLong(1000000L)
  /** Optional fields topic `t` carries at trigger `k`: field `f<j>` joins
    * topic (j - 1) % 4 at trigger 8 j. */
  private def extraFields(t: Int, k: Int): Seq[Int] =
    (1 to k / 8).filter(j => (j - 1) % topics.size == t)

  protected def generate(k: Int): Iterator[(String, Int, String)] =
    topics.iterator.zipWithIndex.flatMap { case ((topic, n), t) =>
      val extras = extraFields(t, k)
      (0 until n).iterator.map { i =>
        val seq = k.toLong * n + i
        val value =
          if (malformed(t, seq)) s"""{"id":$seq,"user":"u${user(t, seq)}","amount":"""
          else {
            val sb = new StringBuilder(96)
            sb ++= s"""{"id":$seq,"user":"u${user(t, seq)}","amount":${amount(t, seq)},"""
            sb ++= s""""ok":${seq % 3 == 0},"tag":"${Workload.vocabulary((seq % 997).toInt)}""""
            if (seq % 2 == 0) extras.foreach(j => sb ++= s""","f$j":${seq % 1000 + j}""")
            sb += '}'
            sb.toString
          }
        (topic, (seq % 8).toInt, value)
      }
    }

  /** Sequence numbers topic `t` has released so far. */
  private def seqs(t: Int): Seq[Long] = 0L until released.toLong * topics(t)._2
  private def validCount(t: Int): Long = seqs(t).count(s => !malformed(t, s)).toLong
  protected def lastLanding: (Long, Long) = {
    val n = topics.head._2.toLong
    (((released - 1) * n until released * n).count(s => !malformed(0, s)).toLong, 0L)
  }

  protected def lookup(r: java.util.SplittableRandom): Outcome = {
    var seq = r.nextLong(seqs(0).size.toLong)
    while (malformed(0, seq)) seq = r.nextLong(seqs(0).size.toLong)
    val got = gs.sql(s"SELECT user, amount FROM ${table("clicks")} WHERE id = $seq")
      .collect()
    Outcome(got.length, got.length == 1 &&
      got(0).getString(0) == s"u${user(0, seq)}" && long(got(0), 1) == amount(0, seq))
  }

  protected def scan(r: java.util.SplittableRandom): Outcome = {
    val lo = r.nextLong(seqs(0).size.toLong / 2)
    val hi = lo + seqs(0).size.toLong / 4
    val row = gs.sql(s"SELECT count(*), sum(amount) FROM ${table("clicks")} " +
      s"WHERE id >= $lo AND id < $hi").head()
    val want = (lo until hi).filterNot(malformed(0, _))
    Outcome(1, long(row, 0) == want.size && (want.isEmpty || long(row, 1) == want.map(amount(0, _)).sum))
  }

  def gates(): Seq[(String, Boolean, String)] = {
    val perTable = topics.zipWithIndex.map { case ((topic, _), t) =>
      val (got, want) = (count(topic), validCount(t))
      (s"rows[$topic]", got == want, s"$got rows, model $want")
    }
    val dlqWant = topics.indices.map(t => seqs(t).count(malformed(t, _)).toLong).sum[Long]
    val dlqGot = count("_dlq")
    perTable :+ (("dlq", dlqGot == dlqWant, s"$dlqGot DLQ rows, model $dlqWant"))
  }

  def liveRows(): Long = (topics.map(_._1) :+ "_dlq").map(count).sum

  def layerMetrics(): Map[String, Double] = Map(
    "catalog.live_files" -> (topics.map(_._1) :+ "_dlq").map(pipeline.lake.liveFileCount).sum.toDouble)
}

/** `upsert-pk`: the reference protocol. A 100k-row base, then 10k-record
  * triggers with 10 % PK conflicts on one topic; the table is partitioned
  * by day of an event-time field and conflicts fall mostly on recent keys.
  * Snapshot retention is on. */
final class UpsertPk(spark: SparkSession, seed: Long, seconds: Int)
    extends IngestWorkload(spark, seed, seconds) {
  private val topic = "orders_cdc"
  private val base = 100000
  private val perTrigger = 10000
  private val conflicts = 1000
  private val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
  protected def floorMsPerTrigger = 1500
  protected def mainTable: String = topic

  protected def config(wh: String) = IngestConfig(wh, triggerMs = 0L,
    pks = Map(topic -> Seq("id")), partitions = Map(topic -> Seq("day(event_ts)")),
    retention = Map(topic -> RetentionConfig(keepLast = 4, slack = 4)))

  /** Model: the trigger that last wrote each key (values derive from
    * (key, trigger)). Keys are dense from 0. */
  private val version = ArrayBuffer.empty[Int]
  /** Keys each staged trigger writes, applied to the model on release. */
  private val keysOf = ArrayBuffer.empty[Array[Long]]
  private var lastRows = 0L
  private var lastUpdates = 0L

  private def status(id: Long, v: Int): String = s"s${Rng(seed, 21L, id, v).nextInt(12)}"
  private def amount(id: Long, v: Int): Long = Rng(seed, 22L, id, v).nextLong(1000000L)
  /** Event time is fixed per key: 20,000 keys a day, so recent keys are
    * recent days (and a run stays within one month of days). */
  private def eventTs(id: Long): String =
    java.time.Instant.ofEpochSecond(t0 + id * 86400L / 20000).toString

  private def firstNewKey(k: Int): Long =
    if (k == 0) 0L else base + (k - 1).toLong * (perTrigger - conflicts)

  protected def generate(k: Int): Iterator[(String, Int, String)] = {
    val fresh = firstNewKey(k) until firstNewKey(k + 1)
    val updated: Array[Long] = if (k == 0) Array.empty else {
      val r = Rng(seed, 23L, k)
      val known = firstNewKey(k)
      val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (picked.size < conflicts) {
        // CDC shape: 90 % of conflicts hit the newest day of keys, the
        // rest the newest five days
        val window = if (r.nextDouble() < 0.9) 20000L else 100000L
        picked += known - 1 - r.nextLong(math.min(window, known))
      }
      picked.toArray
    }
    val keys = fresh.toArray ++ updated
    keysOf += keys
    keys.iterator.map { id =>
      val v = s"""{"id":$id,"event_ts":"${eventTs(id)}","status":"${status(id, k)}",""" +
        s""""amount":${amount(id, k)},"ver":$k}"""
      (topic, (id % 8).toInt, v)
    }
  }

  override protected def afterFlush(k: Int): Unit = applyModel(k)

  override protected def afterWarmup(): Unit = {
    (0 until released).foreach(applyModel)
    // CDC consumers read the table's change feed: upsert commits write
    // change files, which is what `table_changes()` reads
    pipeline.lake.setTableProperty(topic, graft.catalog.TableMeta.CdfEnabledKey, "true")
  }

  protected def resetModel(): Unit = { version.clear(); keysOf.clear() }

  private def applyModel(k: Int): Unit = {
    keysOf(k).foreach { id =>
      while (version.size <= id) version += -1
      version(id.toInt) = k
    }
    lastRows = keysOf(k).length
    lastUpdates = if (k == 0) 0L else conflicts.toLong
  }

  protected def lastLanding: (Long, Long) = (lastRows, lastUpdates)

  private def live: Iterator[Long] = version.indices.iterator.filter(version(_) >= 0).map(_.toLong)

  protected def lookup(r: java.util.SplittableRandom): Outcome = {
    val id = r.nextLong(version.size.toLong)
    val v = version(id.toInt)
    val got = gs.sql(s"SELECT status, amount, ver FROM ${table(topic)} WHERE id = $id").collect()
    Outcome(got.length, got.length == 1 && got(0).getString(0) == status(id, v) &&
      long(got(0), 1) == amount(id, v) && long(got(0), 2) == v)
  }

  protected def scan(r: java.util.SplittableRandom): Outcome = {
    val lo = r.nextLong(version.size / 2L)
    val hi = lo + version.size / 4
    val row = gs.sql(s"SELECT count(*), sum(amount) FROM ${table(topic)} " +
      s"WHERE id >= $lo AND id < $hi").head()
    val want = (lo until hi)
    Outcome(1, long(row, 0) == want.size &&
      long(row, 1) == want.map(id => amount(id, version(id.toInt))).sum)
  }

  def gates(): Seq[(String, Boolean, String)] = {
    val row = gs.sql(s"SELECT count(*), sum(cast(hash(cast(id AS BIGINT), status, cast(amount AS BIGINT), cast(ver AS BIGINT)) AS BIGINT)) " +
      s"FROM ${table(topic)}").head()
    val want = live.toSeq
    val wantHash = want.map { id =>
      val v = version(id.toInt)
      SparkHash(id, status(id, v), amount(id, v), v.toLong).toLong
    }.sum
    Seq(("rows", long(row, 0) == want.size, s"${long(row, 0)} rows, model ${want.size}"),
      ("content-hash", long(row, 1) == wantHash, s"hash ${long(row, 1)}, model $wantHash"))
  }

  def liveRows(): Long = count(topic)

  def layerMetrics(): Map[String, Double] = Map(
    "catalog.live_files" -> pipeline.lake.liveFileCount(topic).toDouble)
}

/** `curate-text`: 5k JSON documents per trigger into one table with the
  * quality and near-dup gates in flag mode. 15 % of documents are
  * one-token edits of documents from earlier triggers, 10 % are junk
  * below `minChars`. The stream also drifts and carries bad records:
  * every 3rd trigger adds an optional field, and 0.5 % of documents are
  * malformed JSON that lands in the DLQ. */
final class CurateText(spark: SparkSession, seed: Long, seconds: Int)
    extends IngestWorkload(spark, seed, seconds) {
  private val topic = "docs"
  private val perTrigger = 2000
  private val minChars = 40
  protected def floorMsPerTrigger = 1500
  protected def mainTable: String = topic

  protected def config(wh: String) = IngestConfig(wh, triggerMs = 0L,
    quality = Map(topic -> QualityConfig("text", minChars = minChars)),
    dedup = Map(topic -> DedupConfig("doc_id", "text")))

  protected def resetModel(): Unit = ()

  private val Original = 0
  private val NearDup = 1
  private val Junk = 2
  private val Malformed = 3

  /** What document `id` is; the first trigger has nothing earlier to
    * duplicate. */
  private def kind(id: Long): Int = {
    val x = Rng(seed, 31L, id).nextDouble()
    if (x < 0.005) Malformed
    else if (x < 0.105) Junk
    else if (x < 0.255 && id >= perTrigger) NearDup
    else Original
  }

  /** The earlier original a near-duplicate edits. */
  private def sourceOf(id: Long): Long = {
    val r = Rng(seed, 32L, id)
    val before = (id / perTrigger) * perTrigger
    var s = r.nextLong(before)
    while (kind(s) != Original) s = r.nextLong(before)
    s
  }

  private def words(id: Long): Array[String] = {
    val r = Rng(seed, 33L, id)
    Array.fill(50 + r.nextInt(40))(Workload.vocabulary(r.nextInt(Workload.vocabulary.length)))
  }

  def text(id: Long): String = kind(id) match {
    case NearDup =>
      val w = words(sourceOf(id))
      val r = Rng(seed, 34L, id)
      w(5 + r.nextInt(w.length - 10)) = "edited" + r.nextInt(1000)
      w.mkString(" ")
    case Junk =>
      val r = Rng(seed, 35L, id)
      Array.fill(4 + r.nextInt(20))(('a' + r.nextInt(26)).toChar).mkString
    case _ => words(id).mkString(" ")
  }

  /** Optional fields at trigger `k`: field `f<j>` joins at trigger 3 j and
    * is set on even document ids. */
  private def extras(id: Long): String = {
    val k = id / perTrigger
    if (id % 2 != 0) "" else (1L to k / 3).map(j => s""","f$j":${id % 1000 + j}""").mkString
  }

  protected def generate(k: Int): Iterator[(String, Int, String)] =
    (k.toLong * perTrigger until (k + 1).toLong * perTrigger).iterator.map { id =>
      val v =
        if (kind(id) == Malformed) s"""{"doc_id":$id,"text":"${text(id).take(20)}"""
        else s"""{"doc_id":$id,"text":"${text(id)}","src":"s${id % 16}"${extras(id)}}"""
      (topic, (id % 8).toInt, v)
    }

  private def releasedIds = 0L until released.toLong * perTrigger
  private def landed(ids: Seq[Long]) = ids.filter(kind(_) != Malformed)
  protected def lastLanding: (Long, Long) =
    (landed((released - 1).toLong * perTrigger until released.toLong * perTrigger).size.toLong, 0L)

  protected def lookup(r: java.util.SplittableRandom): Outcome = {
    var id = r.nextLong(releasedIds.end)
    while (kind(id) == Malformed) id = r.nextLong(releasedIds.end)
    val got = gs.sql(s"SELECT text, quality_ok FROM ${table(topic)} WHERE doc_id = $id").collect()
    Outcome(got.length, got.length == 1 && got(0).getString(0) == text(id) &&
      long(got(0), 1) == (if (kind(id) == Junk) 0L else 1L))
  }

  protected def scan(r: java.util.SplittableRandom): Outcome = {
    val lo = r.nextLong(releasedIds.end / 2)
    val hi = lo + releasedIds.end / 4
    val row = gs.sql(s"SELECT count(*), sum(quality_ok) FROM ${table(topic)} " +
      s"WHERE doc_id >= $lo AND doc_id < $hi").head()
    val ids = landed(lo until hi)
    Outcome(1, long(row, 0) == ids.size && long(row, 1) == ids.count(kind(_) != Junk))
  }

  /** (injected near-duplicates flagged, injected; originals flagged,
    * originals), over the documents released after set-up. */
  private lazy val dupCounts: (Long, Long, Long, Long) = {
    val from = warmupTriggers.toLong * perTrigger
    val flagged = gs.sql(s"SELECT doc_id FROM ${table(topic)} WHERE is_dup = 1 AND doc_id >= $from")
      .collect().map(long(_, 0)).toSet
    val ids = from until releasedIds.end
    val dups = ids.filter(kind(_) == NearDup)
    val origs = ids.filter(kind(_) == Original)
    (dups.count(flagged).toLong, dups.size.toLong, origs.count(flagged).toLong, origs.size.toLong)
  }

  def gates(): Seq[(String, Boolean, String)] = {
    val row = gs.sql(s"SELECT count(*), sum(1 - quality_ok) FROM ${table(topic)}").head()
    val rows = landed(releasedIds).size.toLong
    val junk = releasedIds.count(kind(_) == Junk).toLong
    val bad = releasedIds.count(kind(_) == Malformed).toLong
    val dlq = count("_dlq")
    Seq(("rows", long(row, 0) == rows, s"${long(row, 0)} rows, model $rows"),
      ("quality-fail", long(row, 1) == junk, s"${long(row, 1)} flagged, model $junk"),
      ("dlq", dlq == bad, s"$dlq DLQ rows, model $bad"))
  }

  def liveRows(): Long = count(topic) + count("_dlq")

  def layerMetrics(): Map[String, Double] = {
    val (hit, dups, falseHit, origs) = dupCounts
    Map(
      "operators.dup_recall" -> (if (dups == 0) 0.0 else hit.toDouble / dups),
      "operators.dup_false_flag_ratio" -> (if (origs == 0) 0.0 else falseHit.toDouble / origs),
      "catalog.live_files" -> pipeline.lake.liveFileCount(topic).toDouble)
  }
}
