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
  * never change a verdict). The log commits with the house
  * write-version-then-move-pointer protocol.
  */
object ClusterIndexSink {

  /** SemDeDup's within-cell duplicate threshold (q104's rule). */
  val Tau: Double = ClusterIndex.Tau

  def latestVersion(dir: String): Option[Long] = VersionedPointer.latest(dir)

  /** All committed verdicts (vec_id, cid, dup_of, kept, batch_id) up to
    * the pointer.
    */
  def verdicts(spark: SparkSession, dir: String): DataFrame =
    latestVersion(dir) match {
      case Some(v) =>
        val dirs = (0L to v).map(i => s"$dir/v=$i")
          .filter(graft.core.Lake.exists)
        spark.read.parquet(dirs: _*)
      case None =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("vec_id", LongType),
            StructField("cid", LongType),
            StructField("dup_of", LongType),
            StructField("kept", BooleanType),
            StructField("batch_id", LongType))))
    }

  /** The assignment and probe halves live in [[ClusterIndex]]
    * (`assignBatch` / `probeVerdicts`) so the oracle-gated q116
    * maintenance loop runs the SAME code this sink runs per
    * micro-batch — batch and stream cannot diverge, the
    * [[WinnowIndexSink]]/`Winnow.spliceClean` discipline at the vector
    * layer. These thin delegates keep the sink's seam spec-visible.
    */
  private[streaming] def probeVerdicts(spark: SparkSession,
      indexName: String, b: DataFrame,
      excludeBatchFromHistory: Boolean): DataFrame =
    ClusterIndex.probeVerdicts(spark, indexName, b, excludeBatchFromHistory)

  /** (vec_id, cid, v, nrm) of a raw (vec_id, embedding) batch under
    * frozen centroids — exposed for the seam spec's crash-window setup.
    */
  private[streaming] def assignedBatch(batch: DataFrame,
      centroids: DataFrame): DataFrame =
    ClusterIndex.assignBatch(batch, centroids)

  /** Apply one micro-batch; false iff already applied. */
  def applyBatch(batch: DataFrame, batchId: Long, indexName: String,
      centroids: DataFrame, outDir: String,
      epoch: Option[String] = None): Boolean = {
    if (VersionedPointer.alreadyServed(outDir, batchId, epoch)) false
    else Pin.scope {
      val spark = batch.sparkSession
      graft.core.Lake.mkdirs(outDir)
      val b = Pin(ClusterIndex.assignBatch(batch, centroids),
        "ClusterIndexSink.assign")
      // exclusion on: a crashed previous attempt may have appended this
      // batch's own rows (the WinnowIndexSink replay seam, by vec_id)
      val out = Pin(probeVerdicts(spark, indexName, b,
          excludeBatchFromHistory = true)
        .withColumn("batch_id", lit(batchId)), "ClusterIndexSink.verdicts")
      ClusterIndex.Layout.append(indexName,
        b.join(out.filter(col("kept")).select("vec_id"), "vec_id"))
      out.write.mode("overwrite").parquet(s"$outDir/v=$batchId")
      VersionedPointer.commit(outDir, batchId, epoch)
      true
    }
  }

  /** Attach to a (vec_id, embedding) stream. The index must exist —
    * `ClusterIndex.Layout.initIndex` for a cold start, or
    * `ClusterIndex.Layout.write` to seed history; `centroids` are
    * the generation's frozen learned cells ((cid, cv) integer
    * micro-units — q114's sample-trained output in production).
    */
  def attach(vecs: DataFrame, indexName: String, centroids: DataFrame,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val epoch = VersionedPointer.epochOf(checkpointDir)
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, indexName, centroids, outDir, Some(epoch)); ()
      }
      .start()
  }
}
