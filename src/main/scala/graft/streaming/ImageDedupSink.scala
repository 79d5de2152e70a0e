package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{ClusterIndex, Clustering}

/** Continuous-ingest IMAGE dedup — [[ClusterIndexSink]]'s shape at the
  * multimodal layer (surface 20), completing the image family's form
  * matrix: q121 is the batch prune, the q123 capstone its composed
  * serving, q125 the oracle-gated maintenance loop, and this sink the
  * ingest stream. Per micro-batch of (vec_id, image bytes): decode
  * each PPM payload to its 24-dim integer channel histogram
  * ([[graft.operators.Clustering.imageHistogramsOf]] — the q119/q121
  * codec, one mapPartitions pass), assign to the generation's FROZEN
  * learned cells ([[graft.operators.ClusterIndex.assignImageBatch]] —
  * exact integer features, no quantization), prune arrivals that
  * near-duplicate an already-ADMITTED same-cell image (cosine ≥ 0.3,
  * q104's rule via [[graft.operators.ClusterIndex.probeVerdicts]]),
  * log the verdicts, append admitted representatives. The assignment
  * and probe halves are the EXACT functions the q125 maintenance loop
  * runs, so the DuckDB oracle gating q125 certifies this sink by
  * proxy (the q116 ≡ ClusterIndexSink discipline;
  * ImageDedupSinkSpec pins sink ≡ q125 on the same slices).
  *
  * Exactly-once is [[ClusterIndexSink]]'s seam verbatim: the index
  * append and the log commit cannot be atomic together, so the probe
  * excludes the batch's own ids from the history leg (idempotent
  * under replay-after-append), the history dup-check reduces through
  * a grouped min, and the log commits through [[VersionedPointer]].
  *
  * The 100-TB shape: per batch one decode pass (O(batch), codec init
  * amortized per partition), one broadcast K-row assignment, and one
  * cid-keyed join that shuffles the BATCH side only — the admitted
  * history is read bucketed from the persisted index, never rebuilt.
  */
object ImageDedupSink {

  val imageSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("image", BinaryType)))

  /** All committed verdicts (vec_id, cid, dup_of, kept, batch_id). */
  def verdicts(spark: SparkSession, dir: String): DataFrame =
    ModalDedupIngest.verdicts(spark, dir)

  /** All committed quarantine rows (vec_id, reason, batch_id) — the
    * corrupt arrivals diverted by the decode leg (q135's policy: one
    * malformed container never kills the stream).
    */
  def quarantined(spark: SparkSession, dir: String): DataFrame =
    ModalDedupIngest.quarantined(spark, dir)

  /** Apply one micro-batch of (vec_id, image); false iff already
    * applied. The decode leg quarantines malformed payloads (same
    * decoder as [[graft.operators.Clustering.imageHistogramsOf]],
    * Either-wrapped).
    */
  def applyBatch(batch: DataFrame, batchId: Long, indexName: String,
      centroids: DataFrame, outDir: String,
      epoch: Option[String] = None): Boolean =
    ModalDedupIngest.applyBatch(batch, batchId, indexName, centroids,
      outDir, epoch,
      b => ModalDedupIngest.safeFeaturize(b.sparkSession,
        b.select(imageSchema.fieldNames.map(col): _*), "hist",
        graft.functions.MediaCodecs.quarantining((x: Array[Byte]) =>
          graft.functions.MediaCodecs.PpmCodec.decodeHistogram(x))),
      ClusterIndex.assignImageBatch)

  /** Attach to a (vec_id, image) ingest stream. The index must exist —
    * `ClusterIndex.Layout.initIndex` for a cold start, or a history build
    * via `ClusterIndex.Layout.write`; `centroids` are the
    * generation's frozen learned cells.
    */
  def attach(images: DataFrame, indexName: String, centroids: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(images, checkpointDir) { (batch, id, epoch) =>
      applyBatch(batch, id, indexName, centroids, outDir, epoch)
    }
}
