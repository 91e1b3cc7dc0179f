package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are epoch microseconds,
  * so spans taken from Spark's listener (epoch ms) and from the harness's
  * own clocks (nanoTime) line up on one axis.
  */
final case class Span(traceId: Long, id: Long, parent: Long, name: String,
    layer: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder, written out once when the run ends. Off
  * (and free apart from one volatile read) unless the run is traced.
  */
object Trace {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  private val baseNs = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L

  def nowUs(): Long = usOf(System.nanoTime())
  def usOf(nanoTime: Long): Long = baseEpochUs + (nanoTime - baseNs) / 1000L

  def newId(): Long = ids.incrementAndGet()

  /** Record a span; returns its id (0 when tracing is off). */
  def record(traceId: Long, parent: Long, name: String, layer: String,
      startUs: Long, endUs: Long): Long =
    if (!enabled) 0L
    else {
      val id = newId()
      spans.add(Span(traceId, id, parent, name, layer, startUs, endUs))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def reset(): Unit = spans.clear()

  def replace(all: Seq[Span]): Unit = { spans.clear(); all.foreach(spans.add) }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover (children may overlap, e.g. store
    * calls from parallel tasks, so coverage is an interval union).
    */
  def selfTimeByLayer(all: Seq[Span]): Map[String, Long] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        s.durUs - Stats.unionLength(kids)
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startUs).foreach { s =>
      w.write(s"""{"trace":${s.traceId},"span":${s.id},"parent":${s.parent},""" +
        s""""name":"${Json.esc(s.name)}","layer":"${s.layer}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
      w.newLine()
    } finally w.close()
  }
}
