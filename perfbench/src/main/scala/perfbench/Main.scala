package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by run.py with the built classpath):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --state <dir> --data <tables dir> --expected <file>
  *   perfbench.Main --gen-tables <dir>
  *
  * Prints human-readable lines, then one `PERFBENCH_RESULT {json}` line.
  */
object Main {
  val Workloads = Seq(StreamBench.InmemRaw.name, StreamBench.HttpTyped.name,
    "batch-queries")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val code =
      try {
        opts.get("--gen-tables") match {
          case Some(dir) => genTables(dir)
          case None => run(opts)
        }
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    // DraftApiStub's dispatcher thread is non-daemon: exit explicitly
    sys.exit(code)
  }

  private def genTables(dir: String): Unit = {
    val tmp = Files.createTempDirectory("perfbench-gen")
    val spark = session(2, tmp)
    TableGen.write(spark, dir, TableGen.DefaultSf)
    spark.stop()
    deleteTree(tmp)
  }

  def session(cores: Int, tmp: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(opts: Map[String, String]): Unit = {
    val workload = opts("--workload")
    require(Workloads.contains(workload),
      s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    val trace = opts.getOrElse("--trace", "0") == "1"
    val state = Paths.get(opts("--state"))
    val cores = Runtime.getRuntime.availableProcessors()
    val tmp = Files.createDirectories(state.resolve("tmp"))
    Trace.enabled = trace

    // the bench's system property: deterministic layouts built once per JVM
    System.setProperty("graft.bench.layoutMemo", "true")
    val spark = session(cores, tmp)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val events = new SparkEvents
    val phases = new QePhases
    if (trace) {
      spark.sparkContext.addSparkListener(events)
      spark.listenerManager.register(phases)
    }
    println(s"[perfbench] $workload seed=$seed seconds=$seconds trace=$trace " +
      s"cores=$cores session_start_s=$sessionS")

    val res = workload match {
      case "batch-queries" =>
        val dir = opts("--data")
        val warmS = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          BatchBench.warm(spark, dir)
          (System.nanoTime() - t0) / 1e9
        }
        val expected = loadExpected(Paths.get(opts("--expected")))
        Main.phase(s"tables warmed 3 times, median ${"%.3f".format(Stats.median(warmS))} s")
        BatchBench.run(spark, dir, seed, seconds, trace,
          sessionS + Stats.median(warmS), expected, phases, events)
      case name =>
        val cfg = Seq(StreamBench.InmemRaw, StreamBench.HttpTyped)
          .find(_.name == name).get
        StreamBench.run(spark, cfg, seed, seconds, trace, tmp, cores,
          sessionS, progress, events)
    }

    val untraced = state.resolve(s"untraced-$workload.txt")
    if (trace) {
      Layers.selfTimes(res)
      // tracing overhead: this run's end-to-end figure against the last
      // untraced run of the same workload in this checkout
      val base = if (Files.exists(untraced))
        Some(Files.readString(untraced).trim.toDouble) else None
      base.foreach { b =>
        Layers.put(res, "trace.overhead_pct",
          (res.endToEnd("latency_ms").value / b - 1) * 100)
      }
      val spansOut = state.resolve("traces").resolve(s"$workload-seed$seed.jsonl")
      Trace.writeJsonl(spansOut, Trace.all)
      println(s"[perfbench] ${Trace.all.size} spans written to $spansOut; " +
        base.map(b => s"latency_ms untraced $b").getOrElse("no untraced run yet"))
      if (workload == StreamBench.InmemRaw.name) {
        spark.stop()
        val single = session(1, tmp)
        Layers.put(res, "engine.single_thread_catchup_eps",
          StreamBench.catchupOnly(single, StreamBench.InmemRaw, seed, tmp))
        single.stop()
      }
      Layers.finish(res)
    } else {
      Files.writeString(untraced, res.endToEnd("latency_ms").value.toString)
    }

    res.humanLines.foreach(println)
    if (trace) {
      println("per-layer:")
      res.layers.foreach { case (k, m) => println(f"  $k%-36s ${m.value}%14.4f ${m.unit}") }
    }
    spark.stop()
    deleteTree(tmp)
    phase("done")
    println("PERFBENCH_RESULT " + res.contractLine(trace))
  }

  /** `name checksum` lines recorded from this commit's program. */
  def loadExpected(p: Path): Map[String, Long] =
    scala.io.Source.fromFile(p.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v.toLong }.toMap

  /** Heap used after explicit GCs, the lowest of three readings: between
    * them Spark's ContextCleaner gets time to drop the blocks and
    * broadcasts whose references the previous collection cleared.
    */
  def heapAfterGcMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      m.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private val wall0 = System.nanoTime()

  /** Where a run's wall time goes (stdout, for the reader of a run log). */
  def phase(what: String): Unit =
    println(f"[perfbench] ${(System.nanoTime() - wall0) / 1e9}%7.2f s  $what")

  /** Sum of the shard cursors in a stub offset (`{"shard":n,...}`). */
  def offsetSum(json: String): Long =
    "\":\\s*(\\d+)".r.findAllMatchIn(Option(json).getOrElse(""))
      .map(_.group(1).toLong).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
