package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.jdk.CollectionConverters._

import graft.streaming.{DocumentStore, InMemoryRawDocumentStore}
import graft.streaming.AnsModel.AnsDoc

/** What the store decorators observed. `update` calls on commit-marker
  * ids are counted as marker operations, never as tag updates.
  */
final class CallLog {
  /** nanoTime at which each id's first tag update returned */
  val tagDoneNs = new ConcurrentHashMap[String, java.lang.Long]()
  val updatesPerId = new ConcurrentHashMap[String, AtomicInteger]()
  val updates = new LongAdder
  /** invocations of the update function: one per attempt, so
    * fCalls - updates = optimistic-concurrency retries
    */
  val fCalls = new LongAdder
  /** updates whose committed document differs from the one read */
  val useful = new LongAdder
  val markerOps = new LongAdder
  val updateNs = new ConcurrentLinkedQueue[java.lang.Long]()

  def isMarker(id: String): Boolean = id.startsWith("__batch_commit:")

  def marker(startNs: Long, name: String): Unit = {
    markerOps.increment()
    Trace.record(0, 0, name, "store", Trace.usOf(startNs), Trace.nowUs())
  }

  def updated(id: String, startNs: Long, endNs: Long, changed: Boolean): Unit = {
    updates.increment()
    if (changed) useful.increment()
    updateNs.add(endNs - startNs)
    tagDoneNs.putIfAbsent(id, endNs)
    updatesPerId.computeIfAbsent(id, _ => new AtomicInteger()).incrementAndGet()
    Trace.record(0, 0, "store.update", "store", Trace.usOf(startNs),
      Trace.usOf(endNs))
  }

  def updateMs: Seq[Double] = updateNs.asScala.toSeq.map(_ / 1e6)
  def retries: Long = fCalls.sum() - updates.sum()
}

/** Timing decorator over any typed [[DocumentStore]], registered through
  * `TagPipeline.start`'s `store` argument.
  */
final class TimingDocumentStore(inner: DocumentStore, log: CallLog)
    extends DocumentStore {
  override def get(id: String): Option[AnsDoc] = {
    val t0 = System.nanoTime()
    val r = inner.get(id)
    if (log.isMarker(id)) log.marker(t0, "store.marker_get")
    r
  }
  override def upsert(doc: AnsDoc): Unit = {
    val t0 = System.nanoTime()
    inner.upsert(doc)
    if (log.isMarker(doc._id)) log.marker(t0, "store.marker_put")
  }
  override def snapshot: Seq[AnsDoc] = inner.snapshot
  override def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc = {
    val t0 = System.nanoTime()
    var changed = false
    val r = inner.update(id) { cur =>
      log.fCalls.increment()
      val next = f(cur)
      changed = !cur.contains(next)
      next
    }
    log.updated(id, t0, System.nanoTime(), changed)
    r
  }
}

/** The raw store instrumented by subclassing (the raw sink resolves a
  * concrete [[InMemoryRawDocumentStore]]); `seed` bypasses the counters.
  */
final class TimingRawStore(log: CallLog) extends InMemoryRawDocumentStore {
  def seed(id: String, doc: String): Unit = super.upsert(id, doc)

  override def get(id: String): Option[String] = {
    val t0 = System.nanoTime()
    val r = super.get(id)
    if (log.isMarker(id)) log.marker(t0, "store.marker_get")
    r
  }
  override def upsert(id: String, doc: String): Unit = {
    val t0 = System.nanoTime()
    super.upsert(id, doc)
    if (log.isMarker(id)) log.marker(t0, "store.marker_put")
  }
  override def update(id: String)(f: Option[String] => String): String = {
    val t0 = System.nanoTime()
    var changed = false
    val r = super.update(id) { cur =>
      log.fCalls.increment()
      val next = f(cur)
      changed = !cur.contains(next)
      next
    }
    log.updated(id, t0, System.nanoTime(), changed)
    r
  }
}
