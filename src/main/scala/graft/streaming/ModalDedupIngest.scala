package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.Pin
import graft.operators.ClusterIndex

/** The ONE per-micro-batch ingest-dedup body behind the image
  * (surface 20) and audio (surface 22) sinks — NOT a surface itself,
  * the [[VersionedPointer]] discipline at the batch-application layer:
  * featurize the raw payloads (the modality's only seam), assign to
  * the generation's FROZEN learned cells, prune arrivals that
  * near-duplicate an already-ADMITTED same-cell row (cosine ≥ 0.3,
  * q104's rule via [[graft.operators.ClusterIndex.probeVerdicts]]),
  * log the verdicts, append admitted representatives. Because both
  * sinks run THIS body and the q125/q127 maintenance loops run the
  * same assign/probe functions, the DuckDB oracles gating those loops
  * certify both sinks by proxy — and the image/audio ingest semantics
  * cannot drift from each other by construction.
  *
  * Exactly-once is [[ClusterIndexSink]]'s seam verbatim: the index
  * append and the log commit cannot be atomic together, so the probe
  * excludes the batch's own ids from the history leg (idempotent
  * under replay-after-append), the history dup-check reduces through
  * a grouped min, and the log commits under the versioned-pointer
  * protocol with the checkpoint-epoch guard.
  *
  * The 100-TB shape: per batch one decode pass (O(batch), codec init
  * amortized per partition), one broadcast K-row assignment, and one
  * cid-keyed join that shuffles the BATCH side only — the admitted
  * history is read bucketed from the persisted index, never rebuilt.
  */
private[streaming] object ModalDedupIngest {

  /** All committed verdicts (vec_id, cid, dup_of, kept, batch_id). */
  def verdicts(spark: SparkSession, dir: String): DataFrame = {
    val dirs = VersionedPointer.committedDirs(dir)
    if (dirs.nonEmpty) spark.read.parquet(dirs: _*)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("vec_id", LongType),
          StructField("cid", LongType),
          StructField("dup_of", LongType),
          StructField("kept", BooleanType),
          StructField("batch_id", LongType))))
  }

  /** All committed quarantine rows (vec_id, reason, batch_id) — the
    * bad-record evidence stream of a modal ingest (q135's policy at
    * the standalone-sink layer).
    */
  def quarantined(spark: SparkSession, dir: String): DataFrame = {
    val dirs = VersionedPointer.committedSubDirs(dir, "quarantine")
    if (dirs.nonEmpty) spark.read.parquet(dirs: _*)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("vec_id", LongType),
          StructField("reason", StringType),
          StructField("batch_id", LongType))))
  }

  /** The quarantining featurize shared by the three modal sinks: each
    * raw (vec_id, payload) row decoded through a
    * [[graft.functions.MediaCodecs.quarantining]]-wrapped strict
    * decoder in one mapPartitions pass, emitting (vec_id, feature,
    * reason) — feature null iff the payload was malformed, reason the
    * decoder's own message. ONE body for image/audio/video so the
    * policy cannot drift between the modalities.
    */
  def safeFeaturize(spark: SparkSession, payloads: DataFrame,
      featCol: String,
      safe: Array[Byte] => Either[String, Array[Long]]): DataFrame = {
    import spark.implicits._
    payloads.as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, bytes) =>
        // a NULL payload is the commonest bad-record class in scraped
        // media and the binary column is nullable by schema — it must
        // divert like any other malformed arrival, not NPE the stream
        // inside the decoder
        val r =
          if (bytes == null) Left("null payload") else safe(bytes)
        (id, r.toOption, r.left.toOption)
      }
    }.toDF("vec_id", featCol, "reason")
  }

  /** Apply one featurized micro-batch; false iff already applied.
    * `featurize` maps the raw (vec_id, payload) rows to the modality's
    * QUARANTINING feature frame — (vec_id, feature, reason), reason
    * non-null iff the payload was malformed (the q135 policy: the
    * sinks decode through [[graft.functions.MediaCodecs.quarantining]],
    * so one corrupt container in a 100-TB ingest stream diverts ONE
    * arrival to the quarantine log with the decoder's own reason,
    * never killing the stream; a quarantined arrival gets no verdict
    * row — it is neither admitted nor pruned, only logged). `assignB`
    * is the modality's frozen-cell assignment
    * ([[graft.operators.ClusterIndex.assignImageBatch]] /
    * [[graft.operators.ClusterIndex.assignAudioBatch]] /
    * [[graft.operators.ClusterIndex.assignVideoBatch]]).
    */
  def applyBatch(batch: DataFrame, batchId: Long, indexName: String,
      centroids: DataFrame, outDir: String, epoch: Option[String],
      featurize: DataFrame => DataFrame,
      assignB: (DataFrame, DataFrame) => DataFrame): Boolean = {
    if (VersionedPointer.alreadyServed(outDir, batchId, epoch)) false
    else Pin.scope {
      val spark = batch.sparkSession
      graft.core.Lake.mkdirs(outDir)
      // ONE decode pass, pinned: consumed by the quarantine log and
      // the healthy assignment leg
      val f = Pin(featurize(batch), "ModalDedupIngest.decode")
      val quar = f.filter(col("reason").isNotNull)
        .select(col("vec_id"), col("reason"))
        .withColumn("batch_id", lit(batchId))
      val b = Pin(assignB(f.filter(col("reason").isNull).drop("reason"),
        centroids), "ModalDedupIngest.assign")
      // exclusion on: a crashed previous attempt may have appended this
      // batch's own rows (the ClusterIndexSink replay seam, by vec_id)
      val out = Pin(ClusterIndex.probeVerdicts(spark, indexName, b,
          excludeBatchFromHistory = true)
        .withColumn("batch_id", lit(batchId)), "ModalDedupIngest.verdicts")
      ClusterIndex.append(spark, indexName,
        b.join(out.filter(col("kept")).select("vec_id"), "vec_id"))
      out.write.mode("overwrite").parquet(s"$outDir/v=$batchId")
      quar.write.mode("overwrite").parquet(s"$outDir/quarantine/v=$batchId")
      VersionedPointer.commit(outDir, batchId, epoch)
      true
    }
  }

  /** Attach `apply(batch, batchId, epoch)` to a payload stream under
    * the checkpoint-epoch guard.
    */
  def attach(rows: DataFrame, checkpointDir: String)(
      apply: (DataFrame, Long, Option[String]) => Boolean): StreamingQuery = {
    val epoch = VersionedPointer.epochOf(checkpointDir)
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        apply(batch, batchId, Some(epoch)); ()
      }
      .start()
  }
}
