package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming._
import graft.streaming.AnsModel.AnsDoc

/** A stream workload's fixed parameters.
  *
  * @param rate       offered events/s in the fixed-rate phase (open loop)
  * @param cap        per-shard fetch cap of every micro-batch
  * @param backlog    events preloaded for the catch-up phase
  * @param editorRate editor read-modify-writes/s (0 = no editor)
  */
final case class StreamCfg(name: String, http: Boolean, rate: Double,
    cap: Int, backlog: Int, editorRate: Double)

object StreamBench {

  val InmemRaw = StreamCfg("stream-inmem-raw", http = false, rate = 2000,
    cap = 600, backlog = 16000, editorRate = 0)
  val HttpTyped = StreamCfg("stream-http-typed", http = true, rate = 60,
    cap = 30, backlog = 600, editorRate = 20)

  /** The first seconds of the fixed-rate phase warm the JIT and the
    * engine (the first micro-batches run ~2x slower); their events are
    * checked but are not latency samples.
    */
  val WarmupS = 3.0

  /** The bounded tail percentile. Tag latencies within one micro-batch
    * move together, and a run holds only tens of batches, so p99 follows
    * the single slowest batch; p90 spans several and repeats run to run.
    * p99 is still printed, with its sample count.
    */
  val TailPct = 90

  /** Setups per run; the median is reported as set-up time. */
  val SetupReps = 3

  /** The scheduled time of event i of an open-loop phase. */
  def dueNs(t0: Long, i: Int, rate: Double): Long =
    t0 + math.round(i * 1e9 / rate)

  /** Tag latency of each Pass event due at or after `fromNs` that has
    * been tagged: from the time its record was due to be sent to the
    * return of the store update that tagged its id. Redeliveries repeat an
    * id and are not samples.
    */
  def tagLatenciesMs(events: IndexedSeq[Event], dues: IndexedSeq[Long],
      doneNs: String => Option[Long], fromNs: Long = Long.MinValue): Seq[Double] =
    events.indices.flatMap { i =>
      val e = events(i)
      if (e.kind != Kind.Pass || dues(i) < fromNs) None
      else doneNs(e.id).map(d => (d - dues(i)) / 1e6)
    }

  /** One live pipeline: its store, query and stream. `setupHits` is the
    * requests the stub had served once set-up was done.
    */
  private final class Rig(val streamName: String, val log: CallLog,
      val raw: TimingRawStore, val stub: DraftApiStub, val setupHits: Long,
      val query: StreamingQuery, val ckpt: java.nio.file.Path) {
    /** Put `events` as fast as possible and wait until all are processed;
      * returns the seconds taken.
      */
    def drain(events: Seq[Event]): Double = {
      val t0 = System.nanoTime()
      events.foreach(e => KinesisStubRegistry.put(streamName, e.shard,
        e.payload, new java.sql.Timestamp(System.currentTimeMillis())))
      query.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    def stop(): Unit = {
      try query.stop() finally {
        if (stub != null) stub.stop()
        KinesisStubRegistry.clear(streamName)
        Main.deleteTree(ckpt)
      }
    }
  }

  /** Seed the store with every `existing` document, start the pipeline
    * and wait for its first (empty) batch, which fixes LATEST's start.
    */
  private def setUp(spark: SparkSession, cfg: StreamCfg, seeded: Seq[Event],
      uniq: String, tmp: java.nio.file.Path, cores: Int): Rig = {
    val log = new CallLog
    val streamName = s"pb-$uniq"
    val storeKey = s"pb-$uniq"
    KinesisStubRegistry.clear(streamName)
    val ckpt = java.nio.file.Files.createTempDirectory(tmp, "ckpt-")
    val wire = WireSource.kinesis(spark, streamName, "us-east-1",
      maxFetchPerShard = cfg.cap)
    if (cfg.http) {
      val stub = new DraftApiStub
      val seeder = new HttpDocumentStore(stub.baseUrl)
      val pool = Executors.newFixedThreadPool(cores)
      try {
        seeded.grouped(math.max(1, seeded.size / cores + 1)).toList
          .map(part => pool.submit(new Runnable {
            def run(): Unit = part.foreach(e => seeder.upsert(Docs.typed(e)._1))
          }))
          .foreach(_.get())
      } finally pool.shutdown()
      val store = new TimingDocumentStore(new HttpDocumentStore(stub.baseUrl), log)
      val q = TagPipeline.start(spark, wire, store, ckpt.toString,
        trigger = Trigger.ProcessingTime(0), storeKey = storeKey,
        exactlyOnce = true)
      q.processAllAvailable()
      new Rig(streamName, log, null, stub, stub.hits.get().toLong, q, ckpt)
    } else {
      val store = new TimingRawStore(log)
      seeded.foreach(e => store.seed(e.id, Docs.raw(e)._1))
      val q = TagPipeline.startRaw(spark, wire, store, ckpt.toString,
        trigger = Trigger.ProcessingTime(0), storeKey = storeKey,
        exactlyOnce = true)
      q.processAllAvailable()
      new Rig(streamName, log, store, null, 0L, q, ckpt)
    }
  }

  /** Editor: read-modify-writes on seeded documents through its own
    * client, on its own due-time schedule; each bumps `revision`.
    */
  private final class Editor(baseUrl: String, targets: IndexedSeq[(Long, String)]) {
    val latMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val edits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var attempts = 0L
    private val store = new HttpDocumentStore(baseUrl)
    private val thread = new Thread(() => {
      targets.foreach { case (due, id) =>
        val wait = due - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(wait)
        val t0 = System.nanoTime()
        store.update(id) { cur =>
          attempts += 1
          val d = cur.getOrElse(AnsDoc(id, None, None))
          d.copy(revision = Some(d.revision.getOrElse(0L) + 1))
        }
        latMs.add((System.nanoTime() - t0) / 1e6)
        edits.merge(id, 1, (a: Integer, b: Integer) => a + b)
      }
    }, "perfbench-editor")
    thread.setDaemon(true)
    def start(): Unit = thread.start()
    def join(): Unit = thread.join()
  }

  def run(spark: SparkSession, cfg: StreamCfg, seed: Long, seconds: Int,
      trace: Boolean, tmp: java.nio.file.Path, cores: Int, sessionS: Double,
      progress: ProgressLog, events: SparkEvents): Result = {
    val res = new Result
    val nFixed = math.round(cfg.rate * seconds).toInt
    val gen = new EventGen(seed, s"s$seed")
    val fixed = gen.next(nFixed)
    val backlog = gen.next(cfg.backlog)
    val all = fixed ++ backlog
    val seeded = all.filter(e => e.isFresh && e.existing)
    Main.phase(s"generated ${all.size} events")

    // ---- set-up, repeated; the last rig is the one measured ----------
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val rig = setUp(spark, cfg, seeded, s"${cfg.name}-s$seed-r$rep", tmp, cores)
      val s = (System.nanoTime() - t0) / 1e9
      (s, rig)
    }
    setupS.init.foreach(_._2.stop())
    val rig = setupS.last._2
    val setup = sessionS + Stats.median(setupS.map(_._1))
    Trace.reset()
    val runId = rig.query.runId.toString
    Main.phase(s"set up $SetupReps times, median ${"%.3f".format(Stats.median(setupS.map(_._1)))} s")

    // ---- fixed-rate phase (open loop, one generator thread) ----------
    val dues = new Array[Long](nFixed)
    val lateMs = new Array[Double](nFixed)
    val t0 = System.nanoTime() + 50000000L
    (0 until nFixed).foreach(i => dues(i) = dueNs(t0, i, cfg.rate))
    val editor = if (cfg.editorRate > 0) {
      // each edit targets the newest seeded Pass document due 200 ms
      // before it, so edits land while the tagger is working on that id
      val passSeeded = fixed.indices
        .filter(i => fixed(i).kind == Kind.Pass && fixed(i).existing)
      val nEdits = math.round(cfg.editorRate * seconds).toInt
      val targets = (0 until nEdits).flatMap { j =>
        val due = dueNs(t0, j, cfg.editorRate)
        val before = passSeeded.takeWhile(i => dues(i) <= due - 200000000L)
        before.lastOption.map(i => (due, fixed(i).id))
      }
      Some(new Editor(rig.stub.baseUrl, targets))
    } else None
    editor.foreach(_.start())
    (0 until nFixed).foreach { i =>
      val wait = dues(i) - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val e = fixed(i)
      KinesisStubRegistry.put(rig.streamName, e.shard, e.payload,
        new java.sql.Timestamp(Trace.usOf(dues(i)) / 1000L))
      lateMs(i) = math.max(0L, System.nanoTime() - dues(i)) / 1e6
    }
    val read = Option(rig.query.lastProgress).flatMap(p =>
      p.sources.headOption).map(s => Main.offsetSum(s.endOffset)).getOrElse(0L)
    val lag = nFixed - read
    editor.foreach(_.join())
    rig.query.processAllAvailable()
    Main.phase(s"fixed-rate phase done ($nFixed events)")

    // ---- catch-up phase: drain a preloaded backlog --------------------
    val drainS = rig.drain(backlog)
    val catchupEps = backlog.size / drainS
    Main.phase(s"catch-up phase done (${backlog.size} events)")
    val heapMb = Main.heapAfterGcMb()

    // ---- results -------------------------------------------------------
    val log = rig.log
    val measuredFrom = t0 + math.round(WarmupS * 1e9)
    val lat = tagLatenciesMs(fixed, dues.toIndexedSeq,
      id => Option(log.tagDoneNs.get(id)).map(_.longValue), measuredFrom)
    val p50 = if (lat.isEmpty) Pct(50, Double.NaN, 0) else Stats.percentile(lat, 50)
    val p99 = if (lat.isEmpty) Pct(99, Double.NaN, 0) else Stats.percentile(lat, 99)
    val tail = if (lat.isEmpty) Pct(TailPct, Double.NaN, 0)
      else Stats.percentile(lat, TailPct)
    val editorLat = editor.map(_.latMs.asScala.map(_.doubleValue).toSeq)
      .getOrElse(Seq.empty)
    val editorP99 = if (editorLat.isEmpty) Pct(99, 0.0, 0)
      else Stats.percentile(editorLat, 99)

    res.endToEnd("setup_s") = Metric(setup, "s")
    res.endToEnd("latency_ms") = Metric(p50.value, "ms")
    res.endToEnd("tail_ms") = Metric(tail.value, "ms")
    res.endToEnd("throughput_per_s") = Metric(catchupEps, "1/s")
    res.endToEnd("heap_retained_mb") = Metric(heapMb, "MB")
    res.named("setup_s") = Metric(setup, "s",
      s"median of $SetupReps set-ups, session start ${"%.3f".format(sessionS)} s included")
    res.named("tag_p50_ms") = Metric(p50.value, "ms", s"n=${p50.n}")
    res.named(s"tag_p${TailPct}_ms") = Metric(tail.value, "ms",
      s"n=${tail.n}, ${tail.beyond} beyond")
    res.named("tag_p99_ms") = Metric(p99.value, "ms",
      s"n=${p99.n}, ${p99.beyond} beyond" +
        (if (p99.beyond < 10) " (fewer than ten: not a reliable p99)" else ""))
    res.named("catchup_eps") = Metric(catchupEps, "events/s",
      s"${backlog.size} events in ${"%.3f".format(drainS)} s, cap ${cfg.cap}/shard")
    if (cfg.editorRate > 0)
      res.named("editor_p99_ms") = Metric(editorP99.value, "ms",
        s"n=${editorP99.n}, ${editorP99.beyond} beyond")
    res.named("heap_retained_mb") = Metric(heapMb, "MB", "after System.gc()")

    // ---- output checks -------------------------------------------------
    // the listener bus is asynchronous: wait for the last batch's event
    val lastBatch = rig.query.lastProgress.batchId
    val deadline = System.nanoTime() + 5000000000L
    while (!progress.of(runId).exists(_.batchId >= lastBatch) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    val batches = progress.of(runId)
    val docs: Map[String, Either[String, AnsDoc]] =
      if (cfg.http) new HttpDocumentStore(rig.stub.baseUrl).snapshot
        .map(d => d._id -> Right(d)).toMap
      else rig.raw.snapshot.map { case (k, v) => k -> Left(v) }
    val edits: String => Int = id => editor
      .flatMap(ed => Option(ed.edits.get(id))).map(_.intValue).getOrElse(0)
    Checks.stream(res, cfg, all, docs, log, batches, edits)

    // ---- per-layer -----------------------------------------------------
    if (trace) {
      Layers.put(res, "e2e.tag_p99_ms", p99.value)
      // every update attempt is one GET and one conditional PUT; the
      // editor's own requests and the markers are not the tagger's
      val taggerRequests = Option(rig.stub).map(_.hits.get() - rig.setupHits -
        2L * editor.map(_.attempts).getOrElse(0L) - log.markerOps.sum())
      Layers.stream(res, batches, log, lag, lateMs, editorP99,
        taggerRequests, events)
      Layers.decoder(spark, res, all)
    }
    rig.stop()
    Main.phase("checked and stopped")
    res
  }

  /** The catch-up phase alone on a fresh pipeline (used for the
    * single-threaded baseline, on a `local[1]` session).
    */
  def catchupOnly(spark: SparkSession, cfg: StreamCfg, seed: Long,
      tmp: java.nio.file.Path): Double = {
    val gen = new EventGen(seed, s"s$seed-single")
    val backlog = gen.next(cfg.backlog)
    val rig = setUp(spark, cfg, backlog.filter(e => e.isFresh && e.existing),
      s"${cfg.name}-s$seed-single", tmp, 1)
    try backlog.size / rig.drain(backlog)
    finally rig.stop()
  }
}
