package perfbench

import graft.streaming.AnsModel.AnsDoc

/** Output checks. Each check counts as one attempt; a failure is counted
  * (never timed) and keeps its cause.
  */
object Checks {

  /** The store after a stream run, against what the generated events
    * demand:
    *  - every filter-passing id is tagged, by exactly one update;
    *  - raw documents are byte-identical apart from the inserted tag;
    *  - new ids become the minimal document plus the tag;
    *  - filtered ids are never created, and seeded ones stay untouched;
    *  - the editor's changes survive (its revision bumps);
    *  - one commit marker per non-empty batch, and nothing else.
    */
  def stream(res: Result, cfg: StreamCfg, all: IndexedSeq[Event],
      docs: Map[String, Either[String, AnsDoc]], log: CallLog,
      batches: Seq[BatchProgress], edits: String => Int): Unit = {
    val fresh = all.filter(_.isFresh)
    fresh.foreach { e =>
      val got = docs.get(e.id)
      val want: Option[Either[String, AnsDoc]] = e.kind match {
        case Kind.Pass =>
          if (!e.existing) Some(
            if (cfg.http) Right(Docs.typedCreated(e.id))
            else Left(Docs.rawCreated(e.id)))
          else if (cfg.http) {
            val d = Docs.typed(e)._2
            Some(Right(d.copy(revision = d.revision.map(_ + edits(e.id)))))
          } else Some(Left(Docs.raw(e)._2))
        case _ =>
          if (!e.existing) None
          else if (cfg.http) Some(Right(Docs.typed(e)._1))
          else Some(Left(Docs.raw(e)._1))
      }
      res.check(got == want,
        s"${e.kind} ${e.id}: expected ${want.map(show)}, got ${got.map(show)}")
      if (e.kind == Kind.Pass) {
        val n = Option(log.updatesPerId.get(e.id)).map(_.get).getOrElse(0)
        res.check(n == 1, s"${e.id} tagged by $n updates, expected exactly 1")
      }
    }
    val known = fresh.map(_.id).toSet
    val stray = docs.keySet.filterNot(id => known(id) || log.isMarker(id))
    res.check(stray.isEmpty,
      s"${stray.size} documents no event asked for, e.g. ${stray.take(3)}")
    val markers = docs.keySet.filter(log.isMarker)
    val markerBatches = markers.map(_.split(':').last.toLong)
    batches.filter(_.rows > 0).foreach { b =>
      res.check(markerBatches(b.batchId),
        s"no commit marker for non-empty batch ${b.batchId}")
    }
    val ran = batches.map(_.batchId).toSet
    res.check(markerBatches.forall(ran) && markers.size == markerBatches.size,
      s"markers ${markerBatches.toSeq.sorted.take(5)}... not one per batch run")
  }

  private def show(d: Either[String, AnsDoc]): String = d match {
    case Left(s)  => if (s.length > 160) s.take(160) + "..." else s
    case Right(a) => a.toString
  }

  /** A query's checksum against the value recorded for it. */
  def checksum(res: Result, name: String, got: Either[Throwable, Long],
      expected: Map[String, Long]): Unit = got match {
    case Left(e) =>
      res.check(false, s"$name threw ${e.getClass.getName}: ${e.getMessage}")
    case Right(v) =>
      res.check(expected.get(name).contains(v),
        s"$name checksum $v, recorded ${expected.get(name).map(_.toString).getOrElse("none")}")
  }
}
