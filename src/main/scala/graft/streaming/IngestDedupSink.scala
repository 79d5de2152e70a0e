package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.BandIndex

/** Continuous-ingest near-dup dedup — the streaming twin of q87's
  * maintenance loop, against the SAME persisted bucketed band index
  * ([[graft.operators.BandIndex]]) the batch path uses: per micro-batch,
  * probe the batch's LSH bands against the index (history partners +
  * within-batch keep-first), write the per-doc admit decisions as a
  * versioned decision log, and append the batch's bands so the next
  * batch sees this one as history. Per-batch cost is O(batch) — the
  * index is read, never recomputed — which is the whole point of the
  * persisted index at 100-TB ingest rates.
  *
  * Exactly-once, with one seam beyond [[VersionedPointer]]: the index
  * append and the decision-log commit cannot be made
  * atomic together, so a crash BETWEEN them leaves the batch's own bands
  * in the index when the batch replays. Two properties make the replay
  * emit byte-identical decisions anyway:
  *
  *  - the probe excludes the batch's own ids from the history leg
  *    (`excludeBatchFromHistory` — [[BandIndex.probeIndex]]), so a
  *    half-committed previous attempt is invisible to it;
  *  - both probe legs count DISTINCT partner ids, so the double append
  *    the replay then performs (duplicate band rows in the index) can
  *    never change any later batch's counts either.
  *
  * The decision log itself commits through [[VersionedPointer]]; a
  * replay of a fully-committed batch is skipped by the pointer gate before
  * touching anything. Batches are sequential under Structured Streaming,
  * so a replay of batch N implies N+1 never started — the only
  * foreign bands the exclusion can hide are the batch's own.
  *
  * The index itself is at-least-once with idempotent READ semantics
  * (distinct-count probes) rather than exactly-once storage —
  * the honest contract for a side structure that exists only to answer
  * probes; an audit can compact duplicate rows away at leisure with
  * `SELECT DISTINCT` into a fresh index without changing any answer.
  */
object IngestDedupSink {

  /** The decision log (doc_id, n_hist_dups, n_batch_dups, admit,
    * batch_id).
    */
  val Log: SinkLog = SinkLog(StructType(Seq(StructField("doc_id", LongType),
    StructField("n_hist_dups", LongType),
    StructField("n_batch_dups", LongType),
    StructField("admit", BooleanType),
    StructField("batch_id", LongType))))

  /** All committed decisions up to the pointer, folded history included
    * (the listing takes what exists rather than assume contiguous ids —
    * the engine may never hand a no-data batch to foreachBatch).
    */
  def decisions(spark: SparkSession, dir: String): DataFrame =
    Log.history(spark, dir)

  /** Apply one micro-batch of (doc_id, text); false iff already applied. */
  def applyBatch(batch: DataFrame, batchId: Long, indexName: String,
      outDir: String,
      epoch: Option[String] = None): Boolean =
    Log.serve(outDir, batchId, epoch) {
      val spark = batch.sparkSession
      val docs = batch.select("doc_id", "text")
      // keep the probe's pinned batch bands and append THEM instead of
      // re-banding the batch (probeIndex pins the decision frame eagerly
      // before the append — q87's ordering seam — and the batch's scope
      // releases both pins, so the stream accrues no block-manager state
      // per batch)
      val (dec0, bands) = BandIndex.probeIndex(spark, indexName,
        docs, excludeBatchFromHistory = true)
      BandIndex.appendBands(spark, indexName, bands)
      Seq(dec0.withColumn("batch_id", lit(batchId)))
    }

  /** Attach to a (doc_id, text) stream. The index must exist —
    * `BandIndex.Layout.initIndex` for a cold start, or a [[BandIndex
    * .buildIndex]] over an existing corpus to seed history.
    */
  def attach(docs: DataFrame, indexName: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(docs, checkpointDir) { (batch, batchId, epoch) =>
      applyBatch(batch, batchId, indexName, outDir, epoch)
    }
}
