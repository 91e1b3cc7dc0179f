package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.streaming.EventDecoder

/** Per-layer metrics of the traced run. Every workload reports the whole
  * catalog; a layer a workload does not run reads 0 there (see README.md
  * for which workload each metric is meant for).
  */
object Layers {

  /** (name, unit, better) — the same list BENCHMARK.json declares. */
  val Catalog: Seq[(String, String, String)] = Seq(
    ("source.lag_records", "count", "lower"),
    ("source.offset_ms", "ms", "lower"),
    ("source.rows_per_batch", "count", "higher"),
    ("engine.batches", "count", "lower"),
    ("engine.batch_ms_p50", "ms", "lower"),
    ("engine.batch_ms_p99", "ms", "lower"),
    ("engine.planning_ms", "ms", "lower"),
    ("engine.commit_ms", "ms", "lower"),
    ("engine.state_rows", "count", "lower"),
    ("engine.state_bytes", "bytes", "lower"),
    ("engine.single_thread_catchup_eps", "events/s", "higher"),
    ("decoder.ms_per_krow", "ms", "lower"),
    ("decoder.rows_in", "count", "higher"),
    ("decoder.rows_out", "count", "higher"),
    ("decoder.decode_errors", "count", "lower"),
    ("decoder.url_rows", "count", "higher"),
    ("sink.add_batch_ms", "ms", "lower"),
    ("sink.updates", "count", "lower"),
    ("sink.useful_ratio", "ratio", "higher"),
    ("sink.marker_ops", "count", "lower"),
    ("store.update_ms_p50", "ms", "lower"),
    ("store.update_ms_p99", "ms", "lower"),
    ("store.requests_per_update", "ratio", "lower"),
    ("store.conflict_retries", "count", "lower"),
    ("store.editor_p99_ms", "ms", "lower"),
    ("planner.floor_analysis_ms", "ms", "lower"),
    ("planner.floor_optimization_ms", "ms", "lower"),
    ("planner.floor_planning_ms", "ms", "lower"),
    ("planner.heavy_analysis_ms", "ms", "lower"),
    ("planner.heavy_optimization_ms", "ms", "lower"),
    ("planner.heavy_planning_ms", "ms", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.driver_gap_ms", "ms", "lower"),
    ("exec.stage_wall_ms", "ms", "lower"),
    ("exec.task_ms", "ms", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.input_mb", "MB", "lower"),
    ("exec.task_skew", "ratio", "lower"),
    ("cachepool.rdd_blocks_after_scope", "count", "lower"),
    ("cachepool.storage_mb_after_scope", "MB", "lower"),
    ("e2e.tag_p99_ms", "ms", "lower"),
    ("harness.gen_late_ms_p99", "ms", "lower"),
    ("harness.failed_frac", "ratio", "lower"),
    ("trace.spans", "count", "higher"),
    ("trace.self_ms_engine", "ms", "lower"),
    ("trace.self_ms_sink", "ms", "lower"),
    ("trace.self_ms_store", "ms", "lower"),
    ("trace.self_ms_query", "ms", "lower"),
    ("trace.self_ms_planner", "ms", "lower"),
    ("trace.self_ms_exec", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"))

  private def unitOf(name: String): String =
    Catalog.find(_._1 == name).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"unknown layer metric $name"))

  def put(res: Result, name: String, v: Double): Unit =
    res.layers(name) = Metric(v, unitOf(name))

  /** Fill the catalog order, 0 for anything this workload did not run. */
  def finish(res: Result): Unit = {
    put(res, "harness.failed_frac", res.failedFrac)
    val got = res.layers.toMap
    res.layers.clear()
    Catalog.foreach { case (n, u, _) =>
      res.layers(n) = got.getOrElse(n, Metric(0.0, u))
    }
  }

  private def pctOr0(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else Stats.percentile(xs, p).value

  def stream(res: Result, batches: Seq[BatchProgress], log: CallLog,
      lag: Long, lateMs: Array[Double], editorP99: Pct,
      taggerRequests: Option[Long], events: SparkEvents): Unit = {
    val data = batches.filter(_.rows > 0)
    val d = (k: String) => data.map(_.d(k).toDouble)
    put(res, "source.lag_records", lag.toDouble)
    put(res, "source.offset_ms",
      Stats.medianOr0(data.map(b => (b.d("latestOffset") + b.d("getBatch")).toDouble)))
    put(res, "source.rows_per_batch", Stats.medianOr0(data.map(_.rows.toDouble)))
    put(res, "engine.batches", data.size.toDouble)
    put(res, "engine.batch_ms_p50", pctOr0(d("triggerExecution"), 50))
    put(res, "engine.batch_ms_p99", pctOr0(d("triggerExecution"), 99))
    put(res, "engine.planning_ms", Stats.medianOr0(d("queryPlanning")))
    put(res, "engine.commit_ms",
      Stats.medianOr0(data.map(b => (b.d("walCommit") + b.d("commitOffsets")).toDouble)))
    batches.lastOption.foreach { b =>
      put(res, "engine.state_rows", b.stateRows.toDouble)
      put(res, "engine.state_bytes", b.stateBytes.toDouble)
    }
    put(res, "sink.add_batch_ms", Stats.medianOr0(d("addBatch")))
    val updates = log.updates.sum()
    put(res, "sink.updates", updates.toDouble)
    put(res, "sink.useful_ratio",
      if (updates == 0) 0.0 else log.useful.sum().toDouble / updates)
    put(res, "sink.marker_ops", log.markerOps.sum().toDouble)
    val um = log.updateMs
    put(res, "store.update_ms_p50", pctOr0(um, 50))
    put(res, "store.update_ms_p99", pctOr0(um, 99))
    put(res, "store.conflict_retries", log.retries.toDouble)
    put(res, "store.editor_p99_ms", editorP99.value)
    taggerRequests.filter(_ => updates > 0).foreach(r =>
      put(res, "store.requests_per_update", r.toDouble / updates))
    put(res, "harness.gen_late_ms_p99", pctOr0(lateMs.toSeq, 99))
    execLayer(res, events, _ == "stream", _ == "stream")
    spansLayer(batches)
  }

  /** Micro-batch spans with their progress phases as children (laid end
    * to end in the engine's order, from their reported durations), and
    * every store call parented to the sink span, else the batch, whose
    * interval contains it.
    */
  private def spansLayer(batches: Seq[BatchProgress]): Unit = {
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    val layerOf = Map("latestOffset" -> "source", "getBatch" -> "source",
      "addBatch" -> "sink").withDefaultValue("engine")
    val made = batches.flatMap { b =>
      val s0 = b.startMs * 1000L
      val root = Span(b.batchId, Trace.newId(), 0, s"batch ${b.batchId}",
        "engine", s0, s0 + b.d("triggerExecution") * 1000L)
      var at = s0
      root +: order.filter(b.d(_) > 0).map { k =>
        val sp = Span(b.batchId, Trace.newId(), root.id, k, layerOf(k), at,
          at + b.d(k) * 1000L)
        at = sp.endUs
        sp
      }
    }
    def within(s: Span, k: Span) = k.startUs <= s.startUs && s.endUs <= k.endUs
    val (sinks, roots) = (made.filter(_.layer == "sink"), made.filter(_.parent == 0))
    val placed = Trace.all.map { s =>
      sinks.find(within(s, _)).orElse(roots.find(within(s, _)))
        .map(k => s.copy(traceId = k.traceId, parent = k.id)).getOrElse(s)
    }
    Trace.replace(made ++ placed)
  }

  /** exec.* from the listener: job/stage/task counts over the `counts`
    * scopes, stage wall, task time, bytes and skew over the `work` scopes.
    */
  def execLayer(res: Result, events: SparkEvents, counts: String => Boolean,
      work: String => Boolean): Unit = {
    events.drain()
    val (jobs, stages, tasks) = events.snapshot
    val cs = stages.filter(s => counts(s.scope))
    put(res, "exec.jobs", jobs.count(j => counts(j.scope)).toDouble)
    put(res, "exec.stages", cs.size.toDouble)
    put(res, "exec.tasks", cs.map(_.tasks).sum.toDouble)
    val ws = stages.filter(s => work(s.scope))
    put(res, "exec.stage_wall_ms",
      Stats.unionLength(ws.map(s => (s.submitMs, s.endMs))).toDouble)
    put(res, "exec.task_ms", ws.map(_.taskMs).sum.toDouble)
    put(res, "exec.shuffle_read_mb", ws.map(_.shuffleRead).sum / 1048576.0)
    put(res, "exec.shuffle_write_mb", ws.map(_.shuffleWrite).sum / 1048576.0)
    put(res, "exec.input_mb", ws.map(_.input).sum / 1048576.0)
    val skews = ws.flatMap(s => tasks.get(s.stageId)).filter(_.size >= 2)
      .map(ts => ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble))))
    put(res, "exec.task_skew", Stats.medianOr0(skews))
  }

  /** Self time per layer from the recorded spans, plus the span count. */
  def selfTimes(res: Result): Unit = {
    val spans = Trace.all
    put(res, "trace.spans", spans.size.toDouble)
    Trace.selfTimeByLayer(spans).foreach { case (layer, us) =>
      val k = s"trace.self_ms_$layer"
      if (Catalog.exists(_._1 == k)) put(res, k, us / 1000.0)
    }
  }

  /** decoder.*: EventDecoder.decode and decodeAndFilter as a batch over
    * the run's generated frames (the pipeline drops corrupt rows without
    * counting them, so the counts are taken here).
    */
  def decoder(spark: SparkSession, res: Result, all: IndexedSeq[Event]): Unit = {
    val schema = StructType(Seq(StructField("data", BinaryType),
      StructField("shard", StringType), StructField("ts", TimestampType)))
    val ts = new java.sql.Timestamp(1700000000000L)
    val rows = all.map(e => org.apache.spark.sql.Row(e.payload, e.shard, ts))
    val wire = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, EventGen.Shards), schema).cache()
    wire.count()
    val decoded = EventDecoder.decode(wire)
    val counts = decoded.selectExpr(
      "count(*)", "count_if(decode_error)", "count_if(url is not null)").head()
    val t0 = System.nanoTime()
    val out = EventDecoder.decodeAndFilter(wire).count()
    val ms = (System.nanoTime() - t0) / 1e6
    wire.unpersist()
    put(res, "decoder.rows_in", counts.getLong(0).toDouble)
    put(res, "decoder.decode_errors", counts.getLong(1).toDouble)
    put(res, "decoder.url_rows", counts.getLong(2).toDouble)
    put(res, "decoder.rows_out", out.toDouble)
    put(res, "decoder.ms_per_krow", ms / (all.size / 1000.0))
    val expectedOut = all.count(e => e.kind == Kind.Pass || e.kind == Kind.Redelivery)
    res.check(out == expectedOut,
      s"decodeAndFilter kept $out rows, the generated mix has $expectedOut passing")
    res.check(counts.getLong(1) == all.count(_.kind == Kind.Corrupt),
      s"decode_error rows ${counts.getLong(1)} != corrupt frames")
  }
}
