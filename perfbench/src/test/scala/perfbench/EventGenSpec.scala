package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.RawAns
import graft.streaming.AnsModel.AutoTag

class EventGenSpec extends AnyFunSuite {

  private def sig(es: Seq[Event]) =
    es.map(e => (e.kind, e.id, e.shard, e.payload.toSeq, e.existing, e.pretagged, e.shape))

  test("the same seed gives the same events, byte for byte") {
    val a = new EventGen(7, "s7")
    val b = new EventGen(7, "s7")
    assert(sig(a.next(3000) ++ a.next(500)) == sig(b.next(3500)))
    assert(sig(new EventGen(8, "s7").next(3000)) != sig(new EventGen(7, "s7").next(3000)))
  }

  test("the mix: ~80% pass the filter, ~10% redeliveries, ~1% corrupt, ~1% url") {
    val es = new EventGen(3, "s3").next(20000)
    def share(k: Kind) = es.count(_.kind == k).toDouble / es.size
    val passing = share(Kind.Pass) + share(Kind.Redelivery)
    assert(math.abs(passing - 0.80) < 0.02, passing)
    assert(math.abs(share(Kind.Redelivery) - 0.10) < 0.01)
    assert(math.abs(share(Kind.Corrupt) - 0.01) < 0.004)
    assert(math.abs(share(Kind.Url) - 0.01) < 0.004)
    val fresh = es.filter(_.isFresh)
    assert(math.abs(fresh.count(_.existing).toDouble / fresh.size - 0.5) < 0.02)
    val existing = fresh.filter(_.existing)
    assert(math.abs(existing.count(_.pretagged).toDouble / existing.size - 0.1) < 0.02)
  }

  test("ids are unique except redeliveries, which repeat a Pass on its shard") {
    val es = new EventGen(5, "s5").next(5000)
    val fresh = es.filter(_.isFresh)
    assert(fresh.map(_.id).distinct.size == fresh.size)
    val byId = fresh.map(e => e.id -> e).toMap
    es.filter(_.kind == Kind.Redelivery).foreach { r =>
      val o = byId(r.id)
      assert(o.kind == Kind.Pass && o.seq < r.seq && o.shard == r.shard &&
        o.payload.sameElements(r.payload))
    }
    val perShard = fresh.groupBy(_.shard).values.map(_.size)
    assert(perShard.size == EventGen.Shards && perShard.max - perShard.min <= 1)
  }

  test("expected raw documents are the seeded bytes plus the tag") {
    new EventGen(9, "s9").next(400).filter(e => e.isFresh && e.existing).foreach { e =>
      val (seeded, tagged) = Docs.raw(e)
      assert(RawAns.appendTagIfAbsent(seeded, AutoTag) == tagged)
      if (e.pretagged) assert(seeded == tagged)
      else assert(tagged.length == seeded.length + Docs.TagJson.length +
        (if (e.shape == 0) 1 else ""","taxonomy":{"tags":[]}""".length))
    }
    assert(RawAns.appendTagIfAbsent(RawAns.minimalDoc("x"), AutoTag) ==
      Docs.rawCreated("x"))
  }
}
