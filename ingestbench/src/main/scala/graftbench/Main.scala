package graftbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** The ingest-path benchmark.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --tmp <dir> [--out <dir>]
  * }}}
  *
  * One JVM, one `local[2]` session, one closed-loop client. The workload is
  * set up three times (the median is `setup_s`). The first set-up is then
  * driven for a fixed number of untimed warm-up steps and thrown away with
  * the second, so the timed loop starts JIT-warm from the same state in
  * every run; the last set-up is driven for `--seconds` (after its own
  * untimed settle steps, if the workload has any) and checked against its
  * model. The last stdout line is the result object; the lines before it
  * give the host context, the tail percentiles and the gates. With
  * `--trace 1` the result carries the per-layer metrics instead of the
  * end-to-end ones, and the span tree is written under `--out`. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      tmp: File, out: File)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("tmp")), new File(m.getOrElse("out", need("tmp"))))
  }

  val setupAttempts = 3
  /** Untimed steps on the first, thrown-away set-up. */
  val warmupSteps = 1
  val master = "local[2]"

  /** End-to-end metrics, printed with `--trace 0`. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ingest_rows_per_s" -> "rows/s", "flush_ms_p50" -> "ms",
    "flush_ms_tail" -> "ms", "lookup_ms_p50" -> "ms", "lookup_ms_tail" -> "ms",
    "scan_ms_p50" -> "ms", "changes_ms_p50" -> "ms", "reads_per_s" -> "reads/s",
    "lake_bytes_per_row" -> "bytes/row", "heap_live_mb" -> "MB")

  def session(tmp: File, trace: Boolean): SparkSession = {
    val b = graft.hadoop.FastLocalFileSystem.tune(SparkSession.builder())
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b
      .withExtensions(new graft.plans.GraftExtensions)
      .master(master)
      .appName("ingestbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(tmp, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(tmp, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative (steal, total) CPU ticks of the host, when it reports them:
    * steal is time a virtual machine's CPUs waited for the hypervisor. */
  def cpuTicks(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Some((if (f.length > 7) f(7) else 0L, f.sum))
    } finally src.close()
  } catch { case _: Exception => None }

  /** Driver heap in use after a full collection, in MB: each heap pool's
    * usage as the collection left it, so what other threads allocate
    * right after it does not count. */
  def heapLiveMb(): Double = {
    import scala.jdk.CollectionConverters._
    def collect(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    // Spark's cleaner frees broadcast and shuffle blocks only after a
    // collection has dropped their references, so collect until it is done
    var last = Double.MaxValue
    var now = collect()
    var rounds = 1
    while (rounds < 8 && last - now > 0.5) {
      Thread.sleep(100); last = now; now = collect(); rounds += 1
    }
    now
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.tmp.mkdirs()
    val loadStart = loadAvg()
    val ticksStart = cpuTicks()
    val (spark, sessionMs) = Util.timedMs(session(o.tmp, o.trace))
    val wl = Workload(o.workload, spark, o.seed, o.seconds)

    val warm = new Recorder(spark, trace = false, wl.warehouse)
    val (setupMs, warmMs) = (0 until setupAttempts).map { i =>
      val d = new File(o.tmp, s"attempt$i")
      val (_, ms) = Util.timedMs(wl.setup(d, i))
      val (_, wms) = Util.timedMs {
        if (i == setupAttempts - 1) (0 until wl.settleSteps).foreach(_ => wl.warmStep(warm))
        else {
          if (i == 0) (0 until warmupSteps).foreach(_ => wl.warmStep(warm))
          wl.quiesce(); Util.deleteRecursively(d)
        }
      }
      (ms, wms)
    }.unzip

    val rec = new Recorder(spark, o.trace, wl.warehouse)
    val t0 = System.nanoTime()
    val more = loop(rec, o.seconds)(wl.step)
    val loopS = (System.nanoTime() - t0) / 1e9
    if (!more) System.err.println(
      f"[ingestbench] staged input ran out after $loopS%.1f s of ${o.seconds} s")
    wl.quiesce()
    System.err.println(s"[ingestbench] warm-up flush ms, in order: " +
      warm.ops.filter(_.kind == Op.Flush).map(x => f"${x.wallMs}%.0f").mkString(" "))
    Op.Reads.foreach { k =>
      System.err.println(s"[ingestbench] $k ms, in order: " +
        rec.ops.filter(_.kind == k).map(x => f"${x.wallMs}%.0f").mkString(" "))
    }
    rec.ops.filter(_.kind == Op.Flush).foreach { f =>
      System.err.println(f"[ingestbench] flush ${f.id}: ${f.wallMs}%.1f ms, ${f.rows} rows, " +
        f.progress.map(p => s"batch ${p.batchId} " + p.durationMs).mkString("; "))
    }
    val (gates, gatesMs) = Util.timedMs(wl.gates())
    val layer = wl.layerMetrics()
    val lakeBytes = Util.dirBytes(wl.warehouse).toDouble
    val liveRows = wl.liveRows()
    val readCallMs = if (o.trace) readCallTimes(wl) else 0.0
    val (heapMb, heapMs) = Util.timedMs(heapLiveMb())
    val loadEnd = loadAvg()
    val stealPct = for ((s0, t0) <- ticksStart; (s1, t1) <- cpuTicks() if t1 > t0)
      yield 100.0 * (s1 - s0) / (t1 - t0)

    val ops = rec.ops.toSeq
    val failedOps = ops.count(!_.ok) + warm.ops.count(!_.ok)
    val failedGates = gates.count(!_._2)
    val attempted = ops.size + warm.ops.size + gates.size
    val failed = failedOps + failedGates
    val flushes = ops.filter(_.kind == Op.Flush)

    val context = Seq(
      "workload" -> s""""${o.workload}"""", "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString, "trace" -> (if (o.trace) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> s""""$master"""",
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "git_commit" -> s""""${sys.props.getOrElse("ingestbench.commit", "unknown")}"""",
      "source_sha" -> s""""${sys.props.getOrElse("ingestbench.source", "unknown")}"""",
      "load_avg_1m_start" -> f"$loadStart%.2f", "load_avg_1m_end" -> f"$loadEnd%.2f",
      "cpu_steal_pct" -> stealPct.map(x => f"$x%.2f").getOrElse("null"),
      "session_ms" -> f"$sessionMs%.1f", "setup_ms" -> setupMs.map(x => f"$x%.1f").mkString("[", ",", "]"),
      "warmup_ms" -> warmMs.map(x => f"$x%.1f").mkString("[", ",", "]"),
      "loop_s" -> f"$loopS%.2f",
      "gates_ms" -> f"$gatesMs%.1f", "heap_ms" -> f"$heapMs%.1f", "flushes" -> flushes.size.toString,
      "ops_failed_ratio" -> f"${failed.toDouble / attempted}%.6f")
    println("""{"context":{""" + context.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}}")
    gates.foreach { case (n, ok, detail) =>
      println(s"gate ${o.workload}/$n: ${if (ok) "pass" else "FAIL"} ($detail)")
    }
    ops.filterNot(_.ok).groupBy(_.kind).foreach { case (k, xs) =>
      println(s"ops failed: ${xs.size} of ${ops.count(_.kind == k)} $k")
    }
    if (warm.ops.exists(!_.ok))
      println(s"warm-up ops failed: ${warm.ops.count(!_.ok)} of ${warm.ops.size}")
    println(f"ops_failed_ratio = ${failed.toDouble / attempted}%.6f ($failed of $attempted)")

    def ms(kind: String) = ops.filter(o => o.kind == kind && o.ok).map(_.wallMs)
    def p50(kind: String) = { val x = ms(kind); if (x.isEmpty) 0.0 else Stats.median(x) }
    def tail(name: String, kind: String): Double = {
      val x = ms(kind)
      if (x.isEmpty) 0.0 else {
        val t = Stats.tail(x)
        println(f"$name = ${t.value}%.3f ms (p${t.percentile}%.1f of ${t.samples} samples, ${t.beyond} beyond)")
        t.value
      }
    }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val okFlush = flushes.filter(_.ok)
        // each step's reads as one block, so a throughput is a median over steps
        val readBlocks = ops.filter(o => Op.Reads(o.kind) && o.ok).groupBy(_.step).values.toSeq
        val values = Map(
          "setup_s" -> Stats.median(setupMs) / 1000.0,
          "ingest_rows_per_s" -> (if (okFlush.isEmpty) 0.0
            else Stats.median(okFlush.map(f => f.rows / (f.wallMs / 1000.0)))),
          "flush_ms_p50" -> p50(Op.Flush),
          "flush_ms_tail" -> tail("flush_ms_tail", Op.Flush),
          "lookup_ms_p50" -> p50(Op.Lookup),
          "lookup_ms_tail" -> tail("lookup_ms_tail", Op.Lookup),
          "scan_ms_p50" -> p50(Op.Scan),
          "changes_ms_p50" -> p50(Op.Changes),
          "reads_per_s" -> (if (readBlocks.isEmpty) 0.0
            else Stats.median(readBlocks.map(b => b.size / (b.map(_.wallMs).sum / 1000.0)))),
          "lake_bytes_per_row" -> (if (liveRows == 0) 0.0 else lakeBytes / liveRows),
          "heap_live_mb" -> heapMb)
        endToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val l = Layers.compute(rec, layer, readCallMs)
        o.out.mkdirs()
        val f = new File(o.out, s"spans-${o.workload}-seed${o.seed}.jsonl")
        val w = new PrintWriter(f, "UTF-8")
        try l.spans.foreach(s => w.println(s.json)) finally w.close()
        println(s"spans: ${l.spans.size} written to ${f.getPath}")
        l.metrics
      }

    metrics.foreach { case (n, v, u) => println(f"$n%-36s $v%14.4f $u") }
    val json = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) "0" else v.toString},"unit":"$u"}"""
    }.mkString(",")
    spark.stop()
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$json}}""")
  }

  /** Run `step` for `seconds` (a step starts while time is left); false
    * when the workload's staged input ran out first. */
  private def loop(rec: Recorder, seconds: Int)(step: Recorder => Boolean): Boolean = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var more = true
    while (more && System.nanoTime() < deadline) { more = step(rec); rec.step += 1 }
    more
  }

  /** Median time of a direct `GraftLake.read` of the workload's tables,
    * the catalog's share of every read. */
  private def readCallTimes(wl: Workload): Double =
    Stats.median((0 until 7).map(_ => Util.timedMs(wl.readCall())._2))
}
