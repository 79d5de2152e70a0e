package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.Pin
import graft.functions.MediaCodecs
import graft.operators.{ClusterIndex, FpIndex, Multimodal}

/** The MULTIMODAL curation capstone as a CONTINUOUS pipeline
  * (streaming surface 24) — the streaming twin of q131's composed
  * verdict stack: one ingest stream of wide multimodal docs
  * ([[graft.operators.Multimodal.MultimodalRecord]] — text plus ANY
  * subset of image/audio/video attachments, nullable binary columns),
  * each micro-batch flowing through
  *
  *  1. the QUARANTINE decode leg (q135's policy): every present
  *     attachment is decoded to its modality's index feature through
  *     [[MediaCodecs.quarantining]] — a malformed container diverts
  *     ONE attachment to the quarantine log (`outDir/quarantine/v=N`:
  *     doc_id, modality, the decoder's own reason) and the doc keeps
  *     flowing with its healthy modalities; one corrupt attachment
  *     never kills the stream (at 100 TB of scraped media, this is
  *     week-one reality, not an edge case);
  *  2. the per-doc TEXT verdict stack — [[CurationSink.verdictBatch]]
  *     VERBATIM (span splice vs history, decontam vs the stationary
  *     benchmark BloomIndex, frozen-LM gate), the function q118's
  *     DuckDB oracle certifies;
  *  3. one modal PRUNE per healthy attachment — assign to the
  *     modality's FROZEN learned cells and probe the persisted
  *     assignment index for an admitted same-cell near-duplicate
  *     ([[ClusterIndex.assignImageBatch]]/[[ClusterIndex
  *     .assignAudioBatch]]/[[ClusterIndex.assignVideoBatch]] +
  *     [[ClusterIndex.probeVerdicts]], the EXACT functions the
  *     q125/q127/q130 maintenance loops run — their oracles certify
  *     these legs by proxy, the [[ModalDedupIngest]] discipline);
  *
  * then emitting ONE verdict row per doc (every stage's evidence
  * columns, kept = text kept ∧ every HEALTHY carried modality kept —
  * a QUARANTINED attachment is diverted: it neither keeps nor kills
  * the doc, q135's stated rule), appending the batch's text
  * fingerprints (presence ownership is corpus-wide — CurationSink's
  * rule verbatim) and each modality's ADMITTED representatives so
  * later batches prune against this one as history.
  *
  * Stage scope is [[CurationSink]]'s, extended by the modal prunes:
  * the corpus-level stages (exact/near-dup text admission →
  * [[IngestDedupSink]]; markup extraction → [[BoilerplateSink]];
  * split/mix → epoch-time corpus operations) keep their own surfaces;
  * chaining BoilerplateSink → IngestDedupSink → THIS sink reproduces
  * q131's full stage order continuously.
  *
  * Exactly-once: the FOUR index mutations (fingerprint append + three
  * modal appends) and the log commit cannot be atomic together, so
  * every probe excludes the batch's own ids from its history leg
  * (idempotent under replay-after-append — the [[WinnowIndexSink]] /
  * [[ClusterIndexSink]] seam at each layer), and the verdict +
  * quarantine logs commit under ONE versioned pointer with the
  * checkpoint-epoch guard.
  *
  * The 100-TB shape: per batch one decode pass (O(Σ present
  * attachment bytes) — the Option.map sparse-decode shape, codec init
  * amortized per partition), three broadcast K-row assignments, and
  * per modality one cid-keyed join that shuffles the BATCH side only
  * (admitted history read bucketed from the persisted index, never
  * rebuilt) — plus verdictBatch's own bounded probes.
  */
object MultimodalCurationSink {

  /** One modality's serving estate: the persisted assignment index's
    * table name + the generation's frozen learned cells (K rows,
    * broadcastable).
    */
  final case class ModalIndex(name: String, centroids: DataFrame)

  /** Decoded wide row: per-modality index feature (None when absent
    * OR quarantined) + quarantine reason (Some iff diverted). Public
    * only because the Encoder's generated code must reach the
    * accessors — not an API surface.
    */
  final case class Decoded(doc_id: Long,
      has_image: Boolean, has_audio: Boolean, has_video: Boolean,
      hist: Option[Array[Long]], env: Option[Array[Long]],
      vfeat: Option[Array[Long]],
      img_reason: Option[String], aud_reason: Option[String],
      vid_reason: Option[String])

  /** The quarantining decode pass: one mapPartitions over the wide
    * rows, each present attachment through its strict decoder wrapped
    * in [[MediaCodecs.quarantining]]. Cost is Σ present-attachment
    * bytes, not rows × modalities.
    */
  private def decodeBatch(spark: SparkSession,
      batch: DataFrame): DataFrame = {
    import spark.implicits._
    val safeImg = MediaCodecs.quarantining((b: Array[Byte]) =>
      MediaCodecs.PpmCodec.decodeHistogram(b))
    val safeAud = MediaCodecs.quarantining((b: Array[Byte]) =>
      MediaCodecs.WavCodec.decodeEnvelope(b))
    val safeVid = MediaCodecs.quarantining((b: Array[Byte]) =>
      MediaCodecs.VideoCodec.decodeSampledSums(b))
    batch.select("doc_id", "text", "image", "audio", "video")
      .as[Multimodal.MultimodalRecord]
      .mapPartitions { it =>
        it.map { r =>
          val img = r.image.map(safeImg)
          val aud = r.audio.map(safeAud)
          val vid = r.video.map(safeVid)
          Decoded(r.doc_id,
            r.image.isDefined, r.audio.isDefined, r.video.isDefined,
            img.flatMap(_.toOption), aud.flatMap(_.toOption),
            vid.flatMap(_.toOption),
            img.flatMap(_.left.toOption), aud.flatMap(_.left.toOption),
            vid.flatMap(_.left.toOption))
        }
      }.toDF()
  }

  def latestVersion(dir: String): Option[Long] = VersionedPointer.latest(dir)

  /** All committed verdict rows up to the pointer. */
  def verdicts(spark: SparkSession, dir: String): DataFrame = {
    val dirs = VersionedPointer.committedDirs(dir)
    if (dirs.nonEmpty) spark.read.parquet(dirs: _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      verdictSchema)
  }

  /** All committed quarantine rows (doc_id, modality, reason,
    * batch_id) up to the pointer — the bad-record evidence stream.
    */
  def quarantined(spark: SparkSession, dir: String): DataFrame = {
    val dirs = VersionedPointer.committedSubDirs(dir, "quarantine")
    if (dirs.nonEmpty) spark.read.parquet(dirs: _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("modality", StringType),
        StructField("reason", StringType),
        StructField("batch_id", LongType))))
  }

  private def verdictSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_spans", LongType),
    StructField("n_chars_removed", LongType),
    StructField("n_sh", LongType),
    StructField("n_hit", LongType),
    StructField("n_bigrams", LongType),
    StructField("lm_micro_nats", LongType),
    StructField("avg_mn", LongType),
    StructField("contaminated", BooleanType),
    StructField("text_kept", BooleanType),
    StructField("has_image", BooleanType),
    StructField("has_audio", BooleanType),
    StructField("has_video", BooleanType),
    StructField("img_kept", BooleanType),
    StructField("aud_kept", BooleanType),
    StructField("vid_kept", BooleanType),
    StructField("img_dup_of", LongType),
    StructField("aud_dup_of", LongType),
    StructField("vid_dup_of", LongType),
    StructField("n_quarantined", IntegerType),
    StructField("kept", BooleanType),
    StructField("clean_text", StringType),
    StructField("batch_id", LongType)))

  /** Apply one micro-batch of wide multimodal rows (doc_id, text,
    * image?, audio?, video?); false iff already applied.
    */
  def applyBatch(batch: DataFrame, batchId: Long, fpIndexName: String,
      benchDir: String, art: CurationSink.Artifacts,
      img: ModalIndex, aud: ModalIndex, vid: ModalIndex,
      outDir: String, epoch: Option[String] = None): Boolean = {
    if (VersionedPointer.alreadyServed(outDir, batchId, epoch)) false
    else Pin.scope {
      val spark = batch.sparkSession
      graft.core.Lake.mkdirs(outDir)
      val docs = batch.select("doc_id", "text")
      // ONE decode pass, pinned: consumed by three modal legs + the
      // quarantine log + the evidence join
      val dec = Pin(decodeBatch(spark, batch), "MultimodalCurationSink.decode")
      val quar = dec.select(col("doc_id"), explode(map_filter(
          map(lit("image"), col("img_reason"),
            lit("audio"), col("aud_reason"),
            lit("video"), col("vid_reason")),
          (_, v) => v.isNotNull)).as(Seq("modality", "reason")))
        .withColumn("batch_id", lit(batchId))
      // text stack: the q118-certified function verbatim (the probe's
      // winnow rows feed the fingerprint append)
      val (text, bfp) = CurationSink.verdictBatch(spark,
        docs, fpIndexName, benchDir, art)
      // one modal prune per HEALTHY attachment — probe against the
      // persisted index, then append the admitted representatives
      def leg(featCol: String, mi: ModalIndex, pfx: String,
          assignB: (DataFrame, DataFrame) => DataFrame): DataFrame = {
        val b = Pin(assignB(dec.filter(col(featCol).isNotNull)
            .select(col("doc_id").as("vec_id"), col(featCol)),
          mi.centroids), s"MultimodalCurationSink.$pfx.assign")
        val v = Pin(ClusterIndex.probeVerdicts(spark, mi.name, b,
            excludeBatchFromHistory = true),
          s"MultimodalCurationSink.$pfx.verdicts")
        ClusterIndex.append(spark, mi.name,
          b.join(v.filter(col("kept")).select("vec_id"), "vec_id"))
        v.select(col("vec_id").as("doc_id"),
          col("kept").as(s"${pfx}_kept"),
          col("dup_of").as(s"${pfx}_dup_of"))
      }
      val imgV = leg("hist", img, "img", ClusterIndex.assignImageBatch)
      val audV = leg("env", aud, "aud", ClusterIndex.assignAudioBatch)
      val vidV = leg("vfeat", vid, "vid", ClusterIndex.assignVideoBatch)
      val healthyKept = (c: org.apache.spark.sql.Column) =>
        coalesce(c, lit(true)) // absent/quarantined: diverted, not a veto
      val out = Pin(text
        .withColumnRenamed("kept", "text_kept")
        .join(dec.select("doc_id", "has_image", "has_audio", "has_video",
          "img_reason", "aud_reason", "vid_reason"), Seq("doc_id"))
        .join(imgV, Seq("doc_id"), "left")
        .join(audV, Seq("doc_id"), "left")
        .join(vidV, Seq("doc_id"), "left")
        .withColumn("n_quarantined",
          (col("img_reason").isNotNull.cast("int") +
            col("aud_reason").isNotNull.cast("int") +
            col("vid_reason").isNotNull.cast("int")))
        .withColumn("kept", col("text_kept") &&
          healthyKept(col("img_kept")) && healthyKept(col("aud_kept")) &&
          healthyKept(col("vid_kept")))
        .select(col("doc_id"), col("n_spans"), col("n_chars_removed"),
          col("n_sh"), col("n_hit"), col("n_bigrams"),
          col("lm_micro_nats"), col("avg_mn"), col("contaminated"),
          col("text_kept"), col("has_image"), col("has_audio"),
          col("has_video"), col("img_kept"), col("aud_kept"),
          col("vid_kept"), col("img_dup_of"), col("aud_dup_of"),
          col("vid_dup_of"), col("n_quarantined"), col("kept"),
          col("clean_text"), lit(batchId).as("batch_id")),
        "MultimodalCurationSink.verdicts")
      // presence ownership is corpus-wide (CurationSink's rule): ALL
      // batch docs' text fingerprints enter history, whatever their
      // verdicts — the probe's pinned winnow rows appended directly
      FpIndex.appendRows(spark, fpIndexName, bfp)
      out.write.mode("overwrite").parquet(s"$outDir/v=$batchId")
      quar.write.mode("overwrite").parquet(s"$outDir/quarantine/v=$batchId")
      VersionedPointer.commit(outDir, batchId, epoch)
      true
    }
  }

  /** Attach to a wide multimodal doc stream. The fingerprint index and
    * the three modal assignment indexes must exist (seeded from the
    * generation corpus, or [[FpIndex.initIndex]]/[[ClusterIndex
    * .initIndex]] cold); `art` is the generation's frozen LM + cutoff
    * ([[CurationSink.artifactsOf]]); each [[ModalIndex]] carries the
    * generation's frozen cells.
    */
  def attach(docs: DataFrame, fpIndexName: String, benchDir: String,
      art: CurationSink.Artifacts, img: ModalIndex, aud: ModalIndex,
      vid: ModalIndex, outDir: String,
      checkpointDir: String): StreamingQuery = {
    val epoch = VersionedPointer.epochOf(checkpointDir)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, fpIndexName, benchDir, art,
          img, aud, vid, outDir, Some(epoch)); ()
      }
      .start()
  }
}
