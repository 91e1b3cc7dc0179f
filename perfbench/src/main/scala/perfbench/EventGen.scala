package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

import graft.streaming.AnsModel.{AnsDoc, AutoTag, Tag, Taxonomy}

/** What one generated Kinesis record is. */
sealed trait Kind
object Kind {
  /** fresh `insert-story`, published: passes the documented filter */
  case object Pass extends Kind
  /** fresh `update-story`, published: filtered out */
  case object Update extends Kind
  /** fresh `insert-story`, unpublished: filtered out */
  case object Unpublished extends Kind
  /** the same bytes as a recent Pass record, on the same shard */
  case object Redelivery extends Kind
  /** bytes that are not a gzip stream */
  case object Corrupt extends Kind
  /** gzip of a plain S3 URL, the >1 MB side channel */
  case object Url extends Kind
}

/** One generated record.
  *
  * @param id        the document id the record names (null for Corrupt/Url)
  * @param existing  a document with this id is seeded into the store
  * @param pretagged the seeded document already carries the autotag
  * @param shape     seeded document shape: 0 = taxonomy.tags present,
  *                  1 = no taxonomy member
  */
final case class Event(seq: Int, kind: Kind, id: String, shard: String,
    payload: Array[Byte], existing: Boolean, pretagged: Boolean, shape: Int) {
  def isFresh: Boolean =
    kind == Kind.Pass || kind == Kind.Update || kind == Kind.Unpublished
}

/** Deterministic event generator: the same (seed, prefix) yields the same
  * records, byte for byte, in the same order. One instance produces one
  * run's whole sequence (the fixed-rate phase, then the backlog), so ids
  * never repeat except through Redelivery.
  */
final class EventGen(seed: Long, prefix: String) {
  import EventGen._
  private val rng = new SplittableRandom(seed)
  private var seq = 0
  private var freshCount = 0
  // recent Pass records a redelivery may repeat (the dedup watermark is
  // 10 minutes; a run lasts well under one)
  private val recentPass = ArrayBuffer.empty[Event]
  private val RecentWindow = 64

  def next(n: Int): IndexedSeq[Event] = IndexedSeq.fill(n)(one())

  private def shardOf(i: Int): String = shardName(i % Shards)

  private def one(): Event = {
    val s = seq
    seq += 1
    val r = rng.nextDouble()
    val c1 = CorruptShare
    val c2 = c1 + UrlShare
    val c3 = c2 + RedeliveryShare
    val c4 = c3 + UpdateShare
    val c5 = c4 + UnpublishedShare
    if (r < c1) {
      val junk = new Array[Byte](24 + rng.nextInt(40))
      var i = 0
      while (i < junk.length) { junk(i) = rng.nextInt(256).toByte; i += 1 }
      // a gzip magic followed by garbage: the decoder must reject it
      junk(0) = 0x1f.toByte; junk(1) = 0x8b.toByte; junk(2) = 0x00
      Event(s, Kind.Corrupt, null, shardOf(s), junk, false, false, 0)
    } else if (r < c2) {
      val url = s"https://s3.amazonaws.com/arc-kinesis-overflow/$prefix-$s.json"
      Event(s, Kind.Url, null, shardOf(s), gzip(url), false, false, 0)
    } else if (r < c3 && recentPass.nonEmpty) {
      val orig = recentPass(rng.nextInt(recentPass.length))
      orig.copy(seq = s, kind = Kind.Redelivery)
    } else {
      val kind =
        if (r >= c3 && r < c4) Kind.Update
        else if (r >= c4 && r < c5) Kind.Unpublished
        else Kind.Pass
      val id = s"$prefix-$s"
      val existing = rng.nextDouble() < ExistingShare
      val pretagged = existing && rng.nextDouble() < PretaggedShare
      val shape = if (pretagged) 0 else rng.nextInt(2)
      val op = if (kind == Kind.Update) "update-story" else "insert-story"
      val published = kind != Kind.Unpublished
      val json = s"""{"id":"$id","operation":"$op","created":${!existing},""" +
        s""""type":"story","published":$published,""" +
        s""""trigger":{"referent_update":false},""" +
        s""""body":{"headlines":{"basic":"Headline $s"},"revision":${s % 1000}}}"""
      val e = Event(s, kind, id, shardOf(freshCount), gzip(json),
        existing, pretagged, shape)
      freshCount += 1
      if (kind == Kind.Pass) {
        recentPass += e
        if (recentPass.length > RecentWindow) recentPass.remove(0)
      }
      e
    }
  }
}

object EventGen {
  val Shards = 4

  // the share of each record kind; the rest (70%) are fresh Pass records,
  // so Pass + Redelivery (which re-sends a Pass) is the filter-passing 80%
  val CorruptShare = 0.01
  val UrlShare = 0.01
  val RedeliveryShare = 0.10
  val UpdateShare = 0.09
  val UnpublishedShare = 0.09
  /** of fresh ids: already in the store; of those: already tagged */
  val ExistingShare = 0.5
  val PretaggedShare = 0.1

  def shardName(i: Int): String = f"shardId-$i%012d"

  /** The wire format is gzip(UTF-8 text); built with java.util.zip so the
    * benchmark does not depend on the program's own codec.
    */
  def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes(UTF_8))
    gz.close()
    bos.toByteArray
  }
}

/** Seeded documents and the exact documents a correct tagger leaves.
  *
  * Expected outputs are built from the same parts as the input, never by
  * calling the program: the raw document is `prefix + tags + suffix`, so
  * the tagged version is the same bytes with the tag inserted at a known
  * offset.
  */
object Docs {
  val TagJson = """{"slug":"kinesis-autotag","text":"kinesis autotag"}"""
  val NewsTag: Tag = Tag("news", "News")

  // a small fixed pool of paragraphs: documents are a few KB each without
  // costing the generator a fresh random text per document
  private val Words = Array("the", "council", "voted", "on", "tuesday",
    "budget", "city", "river", "school", "report", "said", "new", "plan",
    "residents", "street", "\\\"quoted\\\"", "caf\\u00e9", "year", "power",
    "line", "board", "state", "county", "week")
  private val Paragraphs: IndexedSeq[String] = {
    val r = new SplittableRandom(7L)
    IndexedSeq.fill(16) {
      Iterator.fill(70)(Words(r.nextInt(Words.length))).mkString(" ")
    }
  }

  private def head(e: Event): String =
    s"""{"_id":"${e.id}","type":"story","version":"0.10.9",""" +
      s""""canonical_url":"/news/${e.id}/",""" +
      s""""headlines":{"basic":"Headline ${e.seq}"},""" +
      s""""x_vendor":{"score":${e.seq % 97},"flags":[true,null,1.5e3],"note":"a}b]c"},"""

  private def content(e: Event): String = {
    val n = 4 + e.seq % 3
    (0 until n).map(k =>
      s"""{"type":"text","_id":"p$k","content":"${Paragraphs((e.seq + k) % Paragraphs.length)}"}""")
      .mkString(""""content_elements":[""", ",", "]")
  }

  /** (seeded raw document, raw document after a correct tag). */
  def raw(e: Event): (String, String) = {
    if (e.shape == 0) {
      val pre = head(e) +
        """"taxonomy":{"primary_section":{"_id":"/news"},"tags":[{"slug":"news","text":"News"}"""
      val tags = if (e.pretagged) "," + TagJson else ""
      val post = """],"seo_keywords":["a","b"]},""" + content(e) + "}"
      val seeded = pre + tags + post
      (seeded, if (e.pretagged) seeded else pre + tags + "," + TagJson + post)
    } else {
      val body = head(e) + content(e)
      (body + "}", body + ""","taxonomy":{"tags":[""" + TagJson + "]}}")
    }
  }

  /** A raw document created for an id the store did not have. */
  def rawCreated(id: String): String =
    s"""{"_id":"$id","taxonomy":{"tags":[$TagJson]}}"""

  /** (seeded typed document, typed document after a correct tag),
    * before any editor change.
    */
  def typed(e: Event): (AnsDoc, AnsDoc) = {
    val rev = Some(e.seq.toLong)
    if (e.shape == 0) {
      val tags = if (e.pretagged) Seq(NewsTag, AutoTag) else Seq(NewsTag)
      val seeded = AnsDoc(e.id, rev, Some(Taxonomy(Some(tags))))
      (seeded, AnsDoc(e.id, rev, Some(Taxonomy(Some(Seq(NewsTag, AutoTag))))))
    } else {
      (AnsDoc(e.id, rev, None),
        AnsDoc(e.id, rev, Some(Taxonomy(Some(Seq(AutoTag))))))
    }
  }

  def typedCreated(id: String): AnsDoc =
    AnsDoc(id, None, Some(Taxonomy(Some(Seq(AutoTag)))))
}
