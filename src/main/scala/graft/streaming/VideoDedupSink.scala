package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{ClusterIndex, Clustering}

/** Continuous-ingest VIDEO dedup — surface 23, completing the video
  * family's form matrix as [[ImageDedupSink]]/[[AudioDedupSink]] do
  * theirs: q129 is the batch prune, q130 the oracle-gated maintenance
  * loop, and this sink the ingest stream. Per micro-batch of
  * (vec_id, GVID bytes): frame-walk each container with stride-2
  * SAMPLING — non-sampled frames skipped by declared length, never
  * parsed ([[graft.operators.Clustering.videoSumsOf]] — the decode
  * cost per clip tracks the SAMPLED frames while the IO walk tracks
  * the container, which is what makes video ingest affordable at
  * 100 TB), assign the 12-dim spatiotemporal sums to the generation's
  * FROZEN learned cells, prune arrivals that near-duplicate an
  * already-ADMITTED same-cell clip, log the verdicts, append admitted
  * representatives.
  *
  * The batch application IS [[ModalDedupIngest]]'s shared body — the
  * code all three modal sinks run — and q130 runs the same
  * assign/probe functions, so the DuckDB oracle gating q130 certifies
  * this sink by proxy (VideoDedupSinkSpec pins sink ≡ q130).
  * Exactly-once, the crash seam, and the restart behavior are the
  * shared bodies', pinned for the family by ImageDedupSinkSpec.
  */
object VideoDedupSink {

  val videoSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("video", BinaryType)))

  /** All committed verdicts (vec_id, cid, dup_of, kept, batch_id). */
  def verdicts(spark: SparkSession, dir: String): DataFrame =
    ModalDedupIngest.verdicts(spark, dir)

  /** All committed quarantine rows (vec_id, reason, batch_id) — the
    * corrupt arrivals diverted by the decode leg (q135's policy: one
    * malformed container never kills the stream).
    */
  def quarantined(spark: SparkSession, dir: String): DataFrame =
    ModalDedupIngest.quarantined(spark, dir)

  /** Apply one micro-batch of (vec_id, video); false iff already
    * applied. The decode leg quarantines malformed payloads (same
    * decoder as [[graft.operators.Clustering.videoSumsOf]],
    * Either-wrapped — a frame-count lie or torn container diverts,
    * never kills).
    */
  def applyBatch(batch: DataFrame, batchId: Long, indexName: String,
      centroids: DataFrame, outDir: String,
      epoch: Option[String] = None): Boolean =
    ModalDedupIngest.applyBatch(batch, batchId, indexName, centroids,
      outDir, epoch,
      b => ModalDedupIngest.safeFeaturize(b.sparkSession,
        b.select(videoSchema.fieldNames.map(col): _*), "vfeat",
        graft.functions.MediaCodecs.quarantining((x: Array[Byte]) =>
          graft.functions.MediaCodecs.VideoCodec.decodeSampledSums(x))),
      ClusterIndex.assignVideoBatch)

  /** Attach to a (vec_id, video) ingest stream. The index must exist —
    * `ClusterIndex.Layout.initIndex` for a cold start, or a history build
    * via `ClusterIndex.Layout.write`; `centroids` are the
    * generation's frozen learned cells.
    */
  def attach(clips: DataFrame, indexName: String, centroids: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(clips, checkpointDir) { (batch, id, epoch) =>
      applyBatch(batch, id, indexName, centroids, outDir, epoch)
    }
}
