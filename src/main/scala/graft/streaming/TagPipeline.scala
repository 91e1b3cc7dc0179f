package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.AnsModel._

/** The reference's whole dataflow as one Structured Streaming job
  * (SURVEY.md §3): source → decode → filter → project → enrich →
  * idempotent tag append → upsert sink.
  *
  * vs the reference's guarantees (SURVEY.md §0 bugs — all fixed here):
  *  - at-least-once with checkpointing instead of at-most-once LATEST with
  *    a dropped first batch (`app.py:18,22-24`); redelivery is safe because
  *    the tag append is idempotent (`tag.py:39-40`) AND the pipeline
  *    dedups event ids within the watermark;
  *  - shard count is the source's partition count, not hard-coded 2
  *    (`app.py:92-93`);
  *  - a failed enrichment never fails the batch (`app.py:71-75`): rows
  *    missing from the store pass through untagged (left join semantics).
  *
  * There is one sink, [[enrichAndUpsert]], over any [[TagStore]] — typed
  * [[DocumentStore]]s and the raw-JSON [[InMemoryRawDocumentStore]]
  * alike — and with it one exactly-once ledger: batchId-keyed commit
  * markers ([[commitMarkerId]]) kept in the sink store itself.
  *
  * The Kinesis connector is a config swap on the source DataFrame; nothing
  * below the source is connector-specific. Trigger cadence and batch cap
  * mirror the reference's governors (`app.py:78`: 3 s poll; `app.py:22`:
  * Limit=20 ≙ maxOffsetsPerTrigger on a rate-limited source).
  */
object TagPipeline {

  /** Reference poll cadence (`app.py:29,78`). */
  val PollInterval: Trigger = Trigger.ProcessingTime("3 seconds")

  /** Enrich + tag one micro-batch against the store, write back — the
    * one tag sink, for every [[TagStore]] (typed or raw documents).
    *
    * This is the `foreachBatch` body: the reference's EP3 shape
    * (`tag.py:49-66` — GET by id, modify, PUT), executed PARTITION-LOCALLY
    * on the executors: no driver collect, upsert parallelism == partition
    * count. Task closures capture only the store's registry key
    * (see [[TagStore.resolve]]); each partition resolves its
    * executor-local handle, the way a production sink resolves a pooled
    * HTTP/DB connection. A failed lookup never fails the batch
    * (`app.py:71-75`): unknown ids create fresh docs. Each id is tagged by
    * optimistic read-modify-write (not raw PUT), so a concurrent editor's
    * change and this tag append both survive.
    */
  def enrichAndUpsert(storeKey: String, tag: Tag,
      exactlyOnce: Boolean = false, runNs: String = "")(
      batch: DataFrame, batchId: Long): Unit = {
    // EXACTLY-ONCE tier (closing the delivery-semantics gap vs the
    // reference's fire-and-forget PUT, tag.py:28): foreachBatch is
    // at-least-once — after a crash between the sink writes and the
    // engine's checkpoint commit, the whole batch REPLAYS with the same
    // batchId. The standard recipe is a batchId-keyed idempotent commit
    // marker IN THE SINK STORE (same failure domain as the writes): a
    // replayed batch whose marker exists is skipped wholesale, so even
    // NON-idempotent effects run once per batchId. Marker is written
    // strictly AFTER the data writes — a crash inside the batch leaves
    // no marker and the replay re-runs it (which is why the per-row
    // update stays idempotent too: markers make replays cheap and give
    // once-per-batch semantics; idempotence covers the partial-batch
    // crash window).
    val marker = commitMarkerId(storeKey, batchId, runNs)
    if (exactlyOnce && TagStore.resolve(storeKey).hasMarker(marker)) return
    batch.select(col("id")).na.drop().distinct()
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val store = TagStore.resolve(storeKey)
        rows.foreach(row => store.appendTag(row.getString(0), tag))
      }
    if (exactlyOnce) TagStore.resolve(storeKey).putMarker(marker, batchId)
  }

  /** Reserved-id commit marker for the exactly-once ledger — lives in
    * the sink store itself so marker and data share a failure domain.
    * The key is (storeKey, runNs, batchId): batchIds are per-CHECKPOINT
    * counters that reset to 0 when a query restarts against a fresh or
    * cleared checkpoint dir, so without the run namespace stale markers
    * from a prior run against the same store would silently swallow the
    * new run's batches. [[start]] derives runNs from the checkpoint
    * path — same checkpoint ⇒ same namespace (replays dedup), new
    * checkpoint ⇒ fresh namespace (nothing swallowed).
    * One storeKey still belongs to one streaming query at a time — two
    * CONCURRENT queries sharing a storeKey+checkpoint would collide.
    */
  private[graft] def commitMarkerId(storeKey: String, batchId: Long,
      runNs: String = ""): String =
    s"__batch_commit:$storeKey:$runNs:$batchId"

  /** Run namespace for the exactly-once marker ledger: a stable digest
    * of the checkpoint location (the object whose lifetime defines the
    * batchId counter's lifetime).
    */
  private[graft] def runNamespace(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString

  /** The source half of [[start]]: decode + the documented filter +
    * watermarked id-dedup (exactly-once tagging under redelivery; state
    * aged out by the watermark, 10 min ≫ any redelivery window). A source that already defined its own
    * event-time watermark (e.g. the KPL-deaggregating consumer's
    * subsequence dedup) keeps it — Spark disallows REdefining a
    * watermark downstream of a stateful operator, and chaining the
    * id-dedup under the existing watermark is exactly the intended
    * semantics.
    */
  private def dedupedStream(wire: DataFrame): DataFrame = {
    val hasWatermark = wire.queryExecution.logical.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => true
      case _ => false
    }
    val decoded = EventDecoder.decodeAndFilter(wire)
    (if (hasWatermark) decoded else decoded.withWatermark("ts", "10 minutes"))
      .dropDuplicatesWithinWatermark("id")
  }

  /** Full streaming job: wire frame in, upserts out.
    *
    * @param wire streaming DataFrame with (data binary, shard string,
    *             ts timestamp) — MemoryStream in tests, Kinesis in prod.
    * @param store typed or raw: with an [[InMemoryRawDocumentStore]] the
    *             sink edits RAW documents via the byte-preserving splice,
    *             the write path for stored documents carrying fields the
    *             pipeline does not declare (ANS schemas evolve; the typed
    *             store would drop them).
    */
  def start(spark: SparkSession, wire: DataFrame, store: TagStore,
      checkpointDir: String, tag: Tag = AutoTag,
      trigger: Trigger = PollInterval,
      storeKey: String = "default",
      exactlyOnce: Boolean = false): StreamingQuery = {
    TagStore.register(storeKey, store)
    dedupedStream(wire).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(
        enrichAndUpsert(storeKey, tag, exactlyOnce,
          runNamespace(checkpointDir)) _)
      .start()
  }

  /** [[start]] on a raw store under its own default registry key. */
  def startRaw(spark: SparkSession, wire: DataFrame,
      store: InMemoryRawDocumentStore, checkpointDir: String,
      tag: Tag = AutoTag, trigger: Trigger = PollInterval,
      storeKey: String = "default-raw",
      exactlyOnce: Boolean = false): StreamingQuery =
    start(spark, wire, store, checkpointDir, tag, trigger, storeKey,
      exactlyOnce)

  /** Batch twin of [[start]] for a bounded event log (same expressions —
    * Structured Streaming's batch≡stream unification).
    */
  def runBatch(wire: DataFrame, store: TagStore, tag: Tag = AutoTag,
      storeKey: String = "default-batch"): Unit = {
    TagStore.register(storeKey, store)
    val projected = EventDecoder.decodeAndFilter(wire)
      .dropDuplicates("id")
    enrichAndUpsert(storeKey, tag)(projected.toDF(), 0L)
  }
}
