package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}

import graft.{CachePool, SparkEntry, Tables}

/** The batch workload: fixed `SparkEntry.queries` through the
  * xxhash64-sum checksum consumer, sampled the way `graft.Bench` samples
  * them (fresh plan per sample, query-owned persists released by a
  * `CachePool` scope, cache cleared and a GC breather between samples).
  */
object BatchBench {

  /** The reference dataflow in batch form; planning and scheduling bound. */
  val Floor: Seq[String] = Seq("q00_flagship", "q02_gzip_roundtrip",
    "q03_json_parse", "q06_nested_projection", "q09_broadcast_join",
    "q10_sortmerge_join", "q17_agg_tpch_q1", "q37_json_extract",
    "q39_tumbling_window", "q41_session_window", "q42_exact_dedup",
    "q55_sidechannel_deref", "q57_tag_udaf", "q64_first_publish",
    "q163_ranged_blob_fetch", "q189_raw_tag_append")

  /** Execution-bound residuals. */
  val Heavy: Seq[String] = Seq("q174_crawl_to_training",
    "q179_dupspan_scrub_sa", "q190_neardup_incremental",
    "q248_join_advisor", "q261_layout_optimize")

  /** Passes over both sets; a query's time is its median over passes.
    * One pass of both sets already outlasts a run's seconds, so a run is
    * normally one pass: cold samples, as a fresh process pays them.
    */
  val MinPasses = 1

  /** Query order of a run, drawn from its seed: the floor set, then the
    * heavy set, each shuffled. Keeping the sets apart keeps the JVM's
    * one-time warm-up in the floor set on every seed.
    */
  def order(seed: Long): Seq[String] = {
    val r = new Random(seed)
    r.shuffle(Floor) ++ r.shuffle(Heavy)
  }

  /** Bench's checksum consumer; returns the sum (0 for an empty result). */
  def checksum(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(sum("h")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Warm every table once (untimed by Bench; here part of set-up). */
  def warm(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach(t => Tables(spark, dir, t).count())

  final case class Sample(name: String, pass: Int, seconds: Double,
      value: Either[Throwable, Long], startMs: Long, endMs: Long,
      analysisMs: Double, blocksAfter: Int, storageMbAfter: Double)

  def run(spark: SparkSession, dir: String, seed: Long, seconds: Int,
      trace: Boolean, setupS: Double, expected: Map[String, Long],
      phases: QePhases, events: SparkEvents): Result = {
    val res = new Result
    val queries = SparkEntry.queries
    val names = order(seed)
    val sc = spark.sparkContext
    def runPass(pass: Int): Seq[Sample] =
      names.map { name =>
        sc.setLocalProperty(SparkEvents.ScopeProp, name)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t = 0.0
        var analysis = 0.0
        var value: Either[Throwable, Long] = null
        CachePool.scoped {
          value =
            try {
              val df = queries(name)(spark, dir)
              analysis = df.queryExecution.tracker.phases.get("analysis")
                .map(_.durationMs.toDouble).getOrElse(0.0)
              Right(checksum(df))
            } catch { case e: Throwable => Left(e) }
          t = (System.nanoTime() - t0) / 1e9
        }
        val endMs = System.currentTimeMillis()
        sc.setLocalProperty(SparkEvents.ScopeProp, null)
        spark.catalog.clearCache()
        val storage = sc.getRDDStorageInfo
        System.gc()
        Sample(name, pass, t, value, startMs, endMs, analysis,
          storage.map(_.numCachedPartitions).sum,
          storage.map(s => s.memSize + s.diskSize).sum / 1048576.0)
      }
    val t0 = System.nanoTime()
    val buf = scala.collection.mutable.ArrayBuffer.empty[Sample]
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass += 1
      buf ++= runPass(pass)
      Main.phase(s"pass $pass done")
    }
    val passes = buf.toList
    val heapMb = Main.heapAfterGcMb()

    // a query that throws has no time: it is a failure with its cause and
    // stays out of every total
    passes.foreach(s => Checks.checksum(res, s.name, s.value, expected))
    val ok = passes.filter(_.value.isRight)
    val perQuery: Map[String, Double] =
      ok.groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(_.seconds)) }
    val floorS = Floor.flatMap(perQuery.get).sum
    val heavyS = Heavy.flatMap(perQuery.get).sum
    val nPasses = passes.map(_.pass).distinct.size
    val qps = perQuery.size / (floorS + heavyS)

    res.endToEnd("setup_s") = Metric(setupS, "s")
    res.endToEnd("latency_ms") = Metric(floorS * 1000, "ms")
    res.endToEnd("tail_ms") = Metric(heavyS * 1000, "ms")
    res.endToEnd("throughput_per_s") = Metric(qps, "1/s")
    res.endToEnd("heap_retained_mb") = Metric(heapMb, "MB")
    res.named("setup_s") = Metric(setupS, "s",
      "session start + median of 3 table warm-ups")
    res.named("batch_floor_s") = Metric(floorS, "s",
      s"${Floor.count(perQuery.contains)} queries, median of $nPasses passes each")
    res.named("batch_heavy_s") = Metric(heavyS, "s",
      s"${Heavy.count(perQuery.contains)} queries, median of $nPasses passes each")
    res.named("queries_per_s") = Metric(qps, "1/s", "both sets")
    res.named("heap_retained_mb") = Metric(heapMb, "MB", "after System.gc()")
    perQuery.toSeq.sortBy(_._1).foreach { case (n, s) =>
      val mine = ok.filter(_.name == n)
      res.named(s"query.$n") = Metric(s, "s",
        mine.map(x => "%.3f".format(x.seconds)).mkString("passes ", " ", "") +
          mine.headOption.flatMap(_.value.toOption).map(v => s"  checksum $v").getOrElse(""))
    }

    if (trace) layers(res, passes, phases, events)
    res
  }

  private def layers(res: Result, passes: Seq[Sample], phases: QePhases,
      events: SparkEvents): Unit = {
    events.drain()
    val recs = phases.all
    // one trace per query sample: the query span, its plan phases (from
    // the tracker timestamps of every action it ran) and its jobs/stages
    val (jobs, stages, _) = events.snapshot
    passes.foreach { s =>
      val tid = Trace.newId()
      val q = Trace.record(tid, 0, s.name, "query", s.startMs * 1000, s.endMs * 1000)
      recs.filter(r => r.startMs >= s.startMs && r.startMs <= s.endMs).foreach { r =>
        r.phases.foreach { case (ph, (a, b)) =>
          Trace.record(tid, q, s"${r.funcName}.$ph", "planner", a * 1000, b * 1000)
        }
      }
      jobs.filter(j => j.scope == s.name && j.startMs >= s.startMs && j.startMs <= s.endMs)
        .foreach(j => Trace.record(tid, q, s"job ${j.jobId}", "exec",
          j.startMs * 1000, j.endMs * 1000))
    }
    def phaseSum(set: Seq[String], ph: String): Double = {
      val ss = passes.filter(p => set.contains(p.name))
      val executed = ss.map { s =>
        recs.filter(r => r.startMs >= s.startMs && r.startMs <= s.endMs)
          .flatMap(_.phases.get(ph)).map { case (a, b) => (b - a).toDouble }.sum
      }.sum
      val analysis = if (ph == "analysis") ss.map(_.analysisMs).sum else 0.0
      (executed + analysis) / math.max(1, ss.map(_.pass).distinct.size)
    }
    Seq("floor" -> Floor, "heavy" -> Heavy).foreach { case (k, set) =>
      Seq("analysis", "optimization", "planning").foreach { ph =>
        Layers.put(res, s"planner.${k}_${ph}_ms", phaseSum(set, ph))
      }
    }
    val nPasses = math.max(1, passes.map(_.pass).distinct.size)
    Layers.execLayer(res, events, Floor.contains, Heavy.contains)
    // per pass, so the counts and sums compare across run lengths
    Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.stage_wall_ms",
      "exec.task_ms", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
      "exec.input_mb").foreach { k =>
      Layers.put(res, k, res.layers(k).value / nPasses)
    }
    val floorPasses = passes.filter(p => Floor.contains(p.name))
    val gap = floorPasses.map { s =>
      val walls = stages.filter(st => st.scope == s.name &&
        st.submitMs >= s.startMs && st.submitMs <= s.endMs)
        .map(st => (st.submitMs, st.endMs))
      (s.endMs - s.startMs) - Stats.unionLength(walls)
    }.sum.toDouble / nPasses
    Layers.put(res, "exec.driver_gap_ms", gap)
    Layers.put(res, "cachepool.rdd_blocks_after_scope",
      passes.map(_.blocksAfter).maxOption.getOrElse(0).toDouble)
    Layers.put(res, "cachepool.storage_mb_after_scope",
      passes.map(_.storageMbAfter).maxOption.getOrElse(0.0))
  }
}
