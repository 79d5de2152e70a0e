package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{ClusterIndex, Clustering}

/** Continuous-ingest AUDIO dedup — surface 22, completing the audio
  * family's form matrix exactly as [[ImageDedupSink]] (surface 20)
  * completes the image one: q126 is the batch prune, q127 the
  * oracle-gated maintenance loop, and this sink the ingest stream.
  * Per micro-batch of (vec_id, WAV bytes): chunk-walk each payload to
  * its 8-frame |sample| energy envelope ([[graft.operators.Clustering
  * .audioEnvelopesOf]] — the q52/q126 codec, one mapPartitions pass),
  * assign to the generation's FROZEN learned cells ([[graft.operators
  * .ClusterIndex.assignAudioBatch]] — exact integer features, no
  * quantization), prune arrivals that near-duplicate an
  * already-ADMITTED same-cell clip, log the verdicts, append admitted
  * representatives.
  *
  * The batch application IS [[ModalDedupIngest]]'s shared body — the
  * same code the image sink runs, differing only in the featurizer
  * and the assignment's feature column — and the q127 maintenance
  * loop runs the same assign/probe functions, so the DuckDB oracle
  * gating q127 certifies this sink by proxy (AudioDedupSinkSpec pins
  * sink ≡ q127 on the same slices). Exactly-once, the crash seam,
  * and the 100-TB shape are [[ModalDedupIngest]]'s scaladoc verbatim;
  * the restart-from-checkpoint behavior is the shared attach body's,
  * pinned for the family by ImageDedupSinkSpec.
  */
object AudioDedupSink {

  val audioSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("audio", BinaryType)))

  /** All committed verdicts (vec_id, cid, dup_of, kept, batch_id). */
  def verdicts(spark: SparkSession, dir: String): DataFrame =
    ModalDedupIngest.verdicts(spark, dir)

  /** All committed quarantine rows (vec_id, reason, batch_id) — the
    * corrupt arrivals diverted by the decode leg (q135's policy: one
    * malformed container never kills the stream).
    */
  def quarantined(spark: SparkSession, dir: String): DataFrame =
    ModalDedupIngest.quarantined(spark, dir)

  /** Apply one micro-batch of (vec_id, audio); false iff already
    * applied. The decode leg quarantines malformed payloads (same
    * decoder as [[graft.operators.Clustering.audioEnvelopesOf]],
    * Either-wrapped).
    */
  def applyBatch(batch: DataFrame, batchId: Long, indexName: String,
      centroids: DataFrame, outDir: String,
      epoch: Option[String] = None): Boolean =
    ModalDedupIngest.applyBatch(batch, batchId, indexName, centroids,
      outDir, epoch,
      b => ModalDedupIngest.safeFeaturize(b.sparkSession,
        b.select(audioSchema.fieldNames.map(col): _*), "env",
        graft.functions.MediaCodecs.quarantining((x: Array[Byte]) =>
          graft.functions.MediaCodecs.WavCodec.decodeEnvelope(x))),
      ClusterIndex.assignAudioBatch)

  /** Attach to a (vec_id, audio) ingest stream. The index must exist —
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
