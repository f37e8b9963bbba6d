package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, named after the engine's modules.
  *
  * Every figure is per traced operation of its kind: per flush (a trigger,
  * or the SQL MERGE in `read-mix`) unless the name says otherwise.
  * Sensor figures are deltas of the engine's public
  * `GraftMetrics.totalsMs()` around the operation; stream figures come from
  * `StreamingQueryProgress.durationMs`; Spark figures from the listener;
  * filesystem figures from Hadoop's `file`-scheme statistics. */
object Layers {
  final case class Result(metrics: Seq[(String, Double, String)], spans: Seq[Tracer.Span])

  /** Every per-layer metric, in print order, with its unit. */
  val names: Seq[(String, String)] = Seq(
    "ingest.process_batch_ms" -> "ms", "ingest.jobs_per_trigger" -> "count",
    "ingest.driver_gap_ms" -> "ms", "ingest.records_per_trigger" -> "count",
    "ingest.dlq_records" -> "count",
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.trigger_overhead_ms" -> "ms",
    "schema.evolve_count" -> "count", "schema.evolve_ms" -> "ms",
    "schema.create_table_ms" -> "ms",
    "catalog.insert_ms" -> "ms", "catalog.upsert_ms" -> "ms",
    "catalog.commit_ms" -> "ms", "catalog.commit_count" -> "count",
    "catalog.collect_stats_ms" -> "ms", "catalog.compact_ms" -> "ms",
    "catalog.compact_count" -> "count", "catalog.expire_ms" -> "ms",
    "catalog.live_files" -> "count", "catalog.files_added_per_flush" -> "count",
    "catalog.read_call_ms" -> "ms", "catalog.files_read_per_lookup" -> "count",
    "catalog.rows_scanned_per_row_returned" -> "ratio",
    "plans.planning_ms" -> "ms", "plans.exec_ms" -> "ms", "plans.merge_sql_ms" -> "ms",
    "operators.quality_ms" -> "ms", "operators.dedup_ms" -> "ms",
    "operators.dedup_probe_ms" -> "ms", "operators.dedup_admit_ms" -> "ms",
    "operators.dup_recall" -> "ratio", "operators.dup_false_flag_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_ms" -> "ms", "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.jobs_per_read" -> "count",
    "fs.read_ops" -> "count", "fs.write_ops" -> "count", "fs.list_ops" -> "count",
    "fs.stat_ops" -> "count",
    "fs.bytes_read" -> "bytes", "fs.bytes_written" -> "bytes",
    "fs.read_ops_per_lookup" -> "count",
    "trace.flush_ms_p50" -> "ms", "trace.flush_ms_p50_untraced" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.op_self_ms" -> "ms", "trace.spans" -> "count")

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def compute(rec: Recorder, workload: Map[String, Double], readCallMs: Double): Result = {
    val tracer = rec.tracer.get
    val ops = rec.ops.toSeq
    val traced = ops.filter(o => o.traced && o.ok)
    val flushes = traced.filter(_.kind == Op.Flush)
    val reads = traced.filter(o => Op.Reads(o.kind))
    val lookups = traced.filter(_.kind == Op.Lookup)

    val jobs = tracer.jobs.asScala.toSeq
    val stagesById = tracer.stages.asScala.map(s => s.id -> s).toMap
    // one window per micro-batch a trigger committed; reads have none
    val windows = traced.flatMap { o =>
      if (o.progress.isEmpty) Seq(Stats.OpWindow(o.id, o.start, o.end + 1, None))
      else o.progress.map(p => Stats.OpWindow(o.id, o.start, o.end + 1, Some(p.batchId)))
    }
    val byOp: Map[Int, Seq[Tracer.Job]] = {
      val samples = jobs.map(j => Stats.JobSample(j.id, j.start, j.end, j.batchId))
      val attributed = Stats.attributeJobs(samples, windows)
      val byId = jobs.map(j => j.id -> j).toMap
      attributed.map { case (op, js) => op -> js.map(s => byId(s.id)) }
    }
    def jobsOf(o: Op) = byOp.getOrElse(o.id, Nil)
    def stagesOf(o: Op) = jobsOf(o).flatMap(_.stageIds.flatMap(stagesById.get))
    val queriesByOp = tracer.queries.asScala.toSeq.groupBy(_.op)

    def dur(o: Op, key: String): Double =
      o.progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)).sum
    def sensorMs(o: Op, names: String*): Double = names.map(n => o.sensors.get(n).map(_._2).getOrElse(0.0)).sum
    def sensorCount(o: Op, n: String): Double = o.sensors.get(n).map(_._1.toDouble).getOrElse(0.0)
    def perFlush(f: Op => Double): Double = mean(flushes.map(f))
    val streamFlushes = flushes.filter(_.progress.nonEmpty)
    def perTrigger(f: Op => Double): Double = mean(streamFlushes.map(f))

    val traceP50 = if (flushes.isEmpty) 0.0 else Stats.median(flushes.map(_.wallMs))
    val untracedFlush = ops.filter(o => !o.traced && o.ok && o.kind == Op.Flush).map(_.wallMs)
    val untracedP50 = if (untracedFlush.isEmpty) 0.0 else Stats.median(untracedFlush)
    val opWindows = traced.map(o => (Stats.OpWindow(o.id, o.start, o.end, None), s"${o.kind} ${o.id}"))
    val spans = Tracer.spans(opWindows, byOp, stagesById)

    val lookupQueries = lookups.flatMap(o => queriesByOp.getOrElse(o.id, Nil))
    val values: Map[String, Double] = Map(
      "ingest.process_batch_ms" -> perTrigger(dur(_, "addBatch")),
      "ingest.jobs_per_trigger" -> perTrigger(jobsOf(_).size.toDouble),
      "ingest.driver_gap_ms" -> perTrigger(o => math.max(0.0,
        dur(o, "addBatch") - Stats.unionLength(jobsOf(o).map(j => (j.start, j.end))))),
      "ingest.records_per_trigger" -> perTrigger(_.progress.map(_.numInputRows).sum.toDouble),
      "ingest.dlq_records" -> perTrigger(_.dlq.toDouble),
      "stream.latest_offset_ms" -> perTrigger(dur(_, "latestOffset")),
      "stream.get_batch_ms" -> perTrigger(dur(_, "getBatch")),
      "stream.query_planning_ms" -> perTrigger(dur(_, "queryPlanning")),
      "stream.wal_commit_ms" -> perTrigger(dur(_, "walCommit")),
      "stream.commit_offsets_ms" -> perTrigger(dur(_, "commitOffsets")),
      "stream.trigger_overhead_ms" -> perTrigger(o => dur(o, "triggerExecution") - dur(o, "addBatch")),
      "schema.evolve_count" -> perFlush(sensorCount(_, "evolveSchema")),
      "schema.evolve_ms" -> perFlush(sensorMs(_, "evolveSchema")),
      "schema.create_table_ms" -> perFlush(sensorMs(_, "createTable")),
      "catalog.insert_ms" -> perFlush(sensorMs(_, "simpleInsert")),
      "catalog.upsert_ms" -> perFlush(sensorMs(_, "upsertWithMergeInto")),
      "catalog.commit_ms" -> perFlush(sensorMs(_, "commitVersion")),
      "catalog.commit_count" -> perFlush(sensorCount(_, "commitVersion")),
      "catalog.collect_stats_ms" -> perFlush(sensorMs(_, "collectStats")),
      "catalog.compact_ms" -> perFlush(sensorMs(_, "autoCompact")),
      "catalog.compact_count" -> perFlush(sensorCount(_, "autoCompact")),
      "catalog.expire_ms" -> perFlush(sensorMs(_, "expireSnapshots")),
      "catalog.files_added_per_flush" -> perFlush(_.filesAdded.toDouble),
      "catalog.read_call_ms" -> readCallMs,
      "catalog.files_read_per_lookup" ->
        (if (lookups.isEmpty) 0.0 else lookupQueries.map(_.filesRead).sum.toDouble / lookups.size),
      "catalog.rows_scanned_per_row_returned" -> {
        val returned = lookups.map(_.rows).sum
        if (returned == 0) 0.0 else lookupQueries.map(_.rowsScanned).sum.toDouble / returned
      },
      "plans.planning_ms" -> mean(reads.map(o => queriesByOp.getOrElse(o.id, Nil).map(_.planningMs).sum.toDouble)),
      "plans.exec_ms" -> mean(reads.map(o => queriesByOp.getOrElse(o.id, Nil).map(_.durationMs).sum.toDouble)),
      "plans.merge_sql_ms" -> perFlush(sensorMs(_, "mergeSqlUpsertPath", "mergeSqlGeneralPath")),
      "operators.quality_ms" -> perFlush(sensorMs(_, "ingestQuality")),
      "operators.dedup_ms" -> perFlush(sensorMs(_, "ingestDedup")),
      "operators.dedup_probe_ms" -> perFlush(sensorMs(_, "dedupProbe")),
      "operators.dedup_admit_ms" -> perFlush(sensorMs(_, "dedupAdmit")),
      "spark.jobs" -> perFlush(jobsOf(_).size.toDouble),
      "spark.stages" -> perFlush(stagesOf(_).size.toDouble),
      "spark.tasks" -> perFlush(stagesOf(_).map(_.tasks).sum.toDouble),
      "spark.job_ms" -> perFlush(jobsOf(_).map(j => j.end - j.start).sum.toDouble),
      "spark.task_run_ms" -> perFlush(stagesOf(_).map(_.runMs).sum.toDouble),
      "spark.task_cpu_ms" -> perFlush(stagesOf(_).map(_.cpuMs).sum.toDouble),
      "spark.gc_ms" -> perFlush(stagesOf(_).map(_.gcMs).sum.toDouble),
      "spark.shuffle_write_bytes" -> perFlush(stagesOf(_).map(_.shuffleWrite).sum.toDouble),
      "spark.shuffle_read_bytes" -> perFlush(stagesOf(_).map(_.shuffleRead).sum.toDouble),
      "spark.spill_bytes" -> perFlush(stagesOf(_).map(_.spill).sum.toDouble),
      "spark.jobs_per_read" -> mean(reads.map(jobsOf(_).size.toDouble)),
      "fs.read_ops" -> perFlush(_.fs.getOrElse("read_ops", 0L).toDouble),
      "fs.write_ops" -> perFlush(_.fs.getOrElse("write_ops", 0L).toDouble),
      "fs.list_ops" -> perFlush(_.fs.getOrElse("list_ops", 0L).toDouble),
      "fs.stat_ops" -> perFlush(_.fs.getOrElse("stat_ops", 0L).toDouble),
      "fs.bytes_read" -> perFlush(_.fs.getOrElse("bytes_read", 0L).toDouble),
      "fs.bytes_written" -> perFlush(_.fs.getOrElse("bytes_written", 0L).toDouble),
      "fs.read_ops_per_lookup" -> mean(lookups.map(_.fs.getOrElse("read_ops", 0L).toDouble)),
      "trace.flush_ms_p50" -> traceP50,
      "trace.flush_ms_p50_untraced" -> untracedP50,
      "trace.overhead_ms" -> (traceP50 - untracedP50),
      "trace.op_self_ms" -> perFlush(o => Stats.uncovered((o.start, o.end),
        jobsOf(o).map(j => (j.start, j.end))).toDouble),
      "trace.spans" -> spans.size.toDouble) ++ workload
    Result(names.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }, spans)
  }
}
