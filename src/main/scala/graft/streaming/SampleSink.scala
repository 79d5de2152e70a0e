package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.SketchExact

/** Continuously-maintained bottom-k weighted sample — the streaming twin
  * of q97 ([[graft.operators.SketchExact]]).
  *
  * Why it exists: at 100 TB a fresh audit/eval sample of the corpus
  * (weighted, without replacement) costs a full scan every time it is
  * drawn. The bottom-k order sketch is MERGEABLE — bottom-k(A ∪ B) =
  * bottom-k(bottom-k(A) ∪ bottom-k(B)) — so an ingest stream can keep
  * the corpus-wide sample current at O(batch + k) per micro-batch: the
  * batch's own bottom-k (a TakeOrderedAndProject over just-arrived
  * rows) merges with the k-row persisted sample. No rescan, ever, and
  * the result is BIT-IDENTICAL to running q97's batch query over
  * everything ingested so far (the spec proves stream ≡ batch-recompute
  * after every batch — determinism of the md5 priorities is what makes
  * the claim testable at equality, not approximately).
  *
  * Exactly-once: [[VersionedPointer]] — a replayed batch skips; a
  * crash between write and pointer-move recomputes the SAME bytes
  * into the same version slot (the merge reads the POINTER
  * version, never max-v, so the half-committed slot is invisible).
  * Because priorities are a pure function of (doc_id, w), a replayed
  * merge is deterministic with no further coordination — the seam that
  * needs distinct-count armor in [[IngestDedupSink]] and version-slot
  * armor in [[RetrievalIndexSink]] closes here by construction.
  *
  * Contract: the stream carries unique doc_ids (an admitted-ingest
  * feed, e.g. [[IngestDedupSink]]'s admit decisions joined back to
  * payloads). Exact full-row duplicates from at-least-once delivery
  * collapse in the merge's distinct; two DIFFERENT rows for one doc_id
  * would both be real corpus rows and are out of contract upstream.
  */
object SampleSink {

  val K = 50

  /** Ingest schema: (doc_id, text) — weight derives from the text. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** The sample: k rows (doc_id, w, priority). */
  val Log: SinkLog = SinkLog(StructType(Seq(
    StructField("doc_id", LongType),
    StructField("w", IntegerType),
    StructField("priority", LongType))))

  /** Current k-row sample (empty-schema frame before the first batch). */
  def sample(spark: SparkSession, dir: String): DataFrame =
    Log.current(spark, dir)

  /** q97's row shape for a (doc_id, text) frame: weight = token count
    * clipped to [1, 64], priority = min over w md5 replica hashes.
    */
  def prioritized(docs: DataFrame): DataFrame = {
    val w = least(greatest(
      size(split(trim(col("text")), graft.core.Ws.Plus)), lit(1)), lit(64))
    docs.select(col("doc_id"), w.as("w"),
      SketchExact.priorityCol(col("doc_id"), w).as("priority"))
  }

  private def bottomK(df: DataFrame): DataFrame =
    df.orderBy(col("priority"), col("doc_id")).limit(K)

  /** Apply one micro-batch; false iff skipped as already applied. */
  def applyBatch(batch: DataFrame, batchId: Long, dir: String,
      epoch: Option[String] = None): Boolean =
    Log.serve(dir, batchId, epoch) {
      val spark = batch.sparkSession
      // batch-local bottom-k FIRST: the union the merge sorts is ≤ 2k
      // rows however large the batch was
      val cand = bottomK(prioritized(
        batch.select(docSchema.fieldNames.map(col): _*)))
      val merged = bottomK(sample(spark, dir).unionByName(cand).distinct())
      // coalesce(1): bounded state — the merged frame is at most k sample rows
      Seq(merged.coalesce(1))
    }

  /** Attach the sink to a (doc_id, text) ingest stream. */
  def attach(docs: DataFrame, sampleDir: String,
      checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(docs, checkpointDir) { (batch, batchId, epoch) =>
      applyBatch(batch, batchId, sampleDir, epoch)
    }
}
