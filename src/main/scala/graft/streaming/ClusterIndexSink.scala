package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Pin
import graft.operators.ClusterIndex

/** Continuous-ingest SemDeDup — the streaming serving surface at the
  * embedding layer, completing the q104 → q113 → q114 arc the way
  * [[WinnowIndexSink]] completes the char-dedup arc: per micro-batch
  * of (vec_id, embedding), assign each vector to its LEARNED cell
  * (centroids frozen at attach — the generation's curated artifact,
  * q114's sample-trained recipe), prune arrivals that duplicate an
  * already-admitted vector in the same cell (cosine >= 0.3, q104's
  * rule), commit the verdicts as a versioned log, and append the
  * ADMITTED rows to the persisted assignment index
  * ([[graft.operators.ClusterIndex]]'s bucketed layout) so the next
  * batch sees them as history. Per-batch cost is O(batch · K)
  * assignment plus one cid-keyed join that shuffles the BATCH side
  * only — the index is read bucketed, never rebuilt.
  *
  * Admission semantics, stated precisely (the [[IngestDedupSink]] /
  * q78 ingest contract at the vector layer): history contains ONLY
  * admitted representatives, so an arrival is pruned iff it matches an
  * ADMITTED same-cell vector (or an earlier — smaller vec_id — member
  * of its own batch, whatever that member's own verdict, the q78
  * within-batch keep-first). Cosine is not transitive, so a vector
  * similar only to a previously-PRUNED arrival is admitted — each
  * admitted row is its dup-group's representative, which is the
  * point of dedup-on-ingest. q104's corpus-batch form (prune against
  * ALL earlier vectors) remains the from-scratch semantics; the two
  * coincide whenever similarity is cell-transitive and are both
  * keep-first.
  *
  * Exactly-once is [[WinnowIndexSink]]'s seam verbatim: the index
  * append and the log commit cannot be atomic together, so the probe
  * excludes the batch's own ids from the history leg (idempotent under
  * replay-after-append) and the history dup-check reduces through a
  * grouped min (duplicate index rows from a crash-replayed append can
  * never change a verdict). The log commits through
  * [[VersionedPointer]].
  */
object ClusterIndexSink {

  /** SemDeDup's within-cell duplicate threshold (q104's rule). */
  val Tau: Double = ClusterIndex.Tau

  /** The verdict log (vec_id, cid, dup_of, kept, batch_id) — the modal
    * sinks' verdict schema.
    */
  val Log: SinkLog = SinkLog(ModalDedupIngest.Log.schema)

  /** All committed verdicts up to the pointer, folded history included. */
  def verdicts(spark: SparkSession, dir: String): DataFrame =
    Log.history(spark, dir)

  /** Apply one micro-batch; false iff already applied. The assignment
    * and probe halves are [[ClusterIndex]]'s `assignBatch` and
    * `probeVerdicts`, the code the oracle-gated q116 maintenance loop
    * runs, so batch and stream cannot diverge.
    */
  def applyBatch(batch: DataFrame, batchId: Long, indexName: String,
      centroids: DataFrame, outDir: String,
      epoch: Option[String] = None): Boolean =
    Log.serve(outDir, batchId, epoch) {
      val spark = batch.sparkSession
      val b = Pin(ClusterIndex.assignBatch(batch, centroids),
        "ClusterIndexSink.assign")
      // exclusion on: a crashed previous attempt may have appended this
      // batch's own rows (the WinnowIndexSink replay seam, by vec_id)
      val out = Pin(ClusterIndex.probeVerdicts(spark, indexName, b,
          excludeBatchFromHistory = true)
        .withColumn("batch_id", lit(batchId)), "ClusterIndexSink.verdicts")
      ClusterIndex.Layout.append(indexName,
        b.join(out.filter(col("kept")).select("vec_id"), "vec_id"))
      Seq(out)
    }

  /** Attach to a (vec_id, embedding) stream. The index must exist —
    * `ClusterIndex.Layout.initIndex` for a cold start, or
    * `ClusterIndex.Layout.write` to seed history; `centroids` are
    * the generation's frozen learned cells ((cid, cv) integer
    * micro-units — q114's sample-trained output in production).
    */
  def attach(vecs: DataFrame, indexName: String, centroids: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(vecs, checkpointDir) { (batch, batchId, epoch) =>
      applyBatch(batch, batchId, indexName, centroids, outDir, epoch)
    }
}
