package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.operators.Dedup

/** Streaming near-duplicate detection — the ingest-time form of q36's
  * MinHash+LSH (SURVEY LLM-ops): flag each arriving document that
  * collides with an EARLIER document on any LSH band, across
  * micro-batches.
  *
  * Each row's band keys come from the batch path's one per-document
  * MinHash body ([[Dedup.bandKeys]]), which needs no aggregation and so
  * no watermark/output-mode constraints. The only stateful operator is
  * one `flatMapGroupsWithState` keyed by band key holding the first
  * doc_id seen — exactly the state a 100-TB ingest dedup needs
  * (band-key -> representative).
  *
  * Scale guards, mirroring the batch path ([[Dedup]]):
  *   - docs with < 3 tokens have NO shingles and an empty band-key
  *     array, so they explode to no rows and never reach the stateful
  *     operator: they carry no near-dup signal.
  *   - a band key hotter than [[Dedup.HotKeyCap]] WITHIN one
  *     micro-batch is boilerplate by definition (the batch path's cap);
  *     its rows are dropped for that batch and it claims no state, so a
  *     degenerate band cannot funnel unbounded rows through one group.
  *   - state carries (representative, lastSeenMs) and expires after
  *     `ttlMs` of EVENT time: keys idle past the horizon are EVICTED via
  *     `EventTimeTimeout` when the watermark passes their deadline
  *     (state-store size is bounded by band keys active within the
  *     horizon, not corpus lifetime), and because timeout callbacks only
  *     fire for keys with no incoming data, a key that receives data
  *     AFTER its horizon treats the stored representative as expired and
  *     re-seeds it — a sliding-horizon dedup, the semantics an infinite
  *     ingest needs. Event-time (not processing-time) timeout is a
  *     deliberate choice twice over: the dedup horizon of a training
  *     corpus is a property of the DATA's timeline (reprocessing a
  *     backlog must behave identically to live ingest), and a
  *     processing-time timeout makes the micro-batch engine re-trigger
  *     empty batches forever (`shouldRunAnotherBatch` is always true
  *     once wall-clock deadlines exist), burning CPU on an idle stream.
  */
object DedupStream {

  final case class BandHit(doc_id: Long, band_key: String,
      ts: java.sql.Timestamp)
  final case class DupFlag(doc_id: Long, dup_of: Long)
  /** Band state: first-seen doc in the current horizon + when (event ms). */
  final case class BandState(rep: Long, lastSeenMs: Long)

  /** (doc_id, band_key, ts) per band of each (id, text, ts) row. */
  private[streaming] def bandHits(docs: DataFrame): DataFrame =
    docs.select(col("id").cast("long").as("doc_id"),
      explode(Dedup.bandKeys(docs.sparkSession, col("text"))).as("band_key"),
      col("ts"))

  /** @param docs STREAMING (id, text, ts) frame; `ts` is the event-time
    *        column the dedup horizon is measured on (ingest time at the
    *        source — any at-least-once source carries one)
    * @param ttlMs sliding dedup horizon in EVENT-time ms: a band
    *        representative older than this no longer claims new
    *        arrivals, and idle band state is evicted once the watermark
    *        passes its deadline (default 24 h)
    * @param lateness watermark delay for out-of-order arrivals. Rows whose
    *        event time trails the watermark are dropped by the ENGINE
    *        before the stateful operator — with a zero delay any row that
    *        arrives out of order is silently never flagged and never seeds
    *        state, which is wrong for real ingest streams (they are rarely
    *        perfectly ordered). The default therefore buys a 10-minute
    *        reordering buffer; set it to the source's actual disorder
    *        bound ("0 seconds" only if the source guarantees order). The
    *        only cost of a larger value is eviction lag: idle state lives
    *        `lateness` longer before the watermark reaches its deadline.
    * @return streaming (doc_id, dup_of) — one row per (later doc, band)
    *         collision with the band's first-seen doc; a doc colliding on
    *         several bands emits several rows (aggregate downstream if a
    *         single verdict per doc is wanted)
    */
  def nearDupFlags(
      spark: SparkSession,
      docs: DataFrame,
      ttlMs: Long = 24L * 3600 * 1000,
      lateness: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    bandHits(docs.withWatermark("ts", lateness))
      .as[BandHit]
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (_: String, hits: Iterator[BandHit], state: GroupState[BandState]) =>
          if (state.hasTimedOut) {
            // idle past the horizon: evict (bounds the state store)
            state.remove()
            Iterator.empty
          } else {
            val rows = hits.toSeq
            val now = rows.iterator.map(_.ts.getTime).max
            // within one batch the iterator preserves no global order, so
            // the smallest doc_id claims an unclaimed band (deterministic)
            val batch = rows.map(_.doc_id).distinct.sorted
            if (batch.size > Dedup.HotKeyCap) {
              // boilerplate band this batch: no signal, no state claim
              // (existing state keeps its deadline and expires if idle)
              Iterator.empty
            } else {
              // a representative last seen more than the horizon before
              // this batch's event time is stale even though eviction
              // hasn't fired (timeouts only fire for keys with NO data) —
              // re-seed instead of flagging against it
              val live = state.getOption.filter(now - _.lastSeenMs <= ttlMs)
              val rep = live.map(_.rep).getOrElse(batch.head)
              val seen = math.max(now, live.map(_.lastSeenMs).getOrElse(Long.MinValue))
              state.update(BandState(rep, seen))
              state.setTimeoutTimestamp(seen + ttlMs)
              batch.filter(_ != rep).map(d => DupFlag(d, rep)).iterator
            }
          }
      }
      .toDF()
  }
}
