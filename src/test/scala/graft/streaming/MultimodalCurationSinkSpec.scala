package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{ClusterIndex, Clustering, IndexCommit, FpIndex, Multimodal}

/** [[MultimodalCurationSink]] (surface 24) — the streaming twin of the
  * q131 capstone's per-doc verdict stack. Certification is the house
  * sink ≡ certified-component discipline, composed: on ONE shared
  * fixture (the maintenance-loop slices, wide rows minted with
  * deliberate corruption), the composed sink's text columns must equal
  * [[CurationSink]]'s own run (surface 16, certified by q118's
  * oracle), and each modal verdict leg must equal the matching
  * standalone modal sink's run (surfaces 20/22/23, certified by
  * q125/q127/q130's oracles) over the healthy payload stream — plus
  * the quarantine policy (corrupt attachments diverted with the
  * decoder's reason, never killing the stream), the kept algebra, the
  * replay guard, the crash-window seam (replay after half-committed
  * appends), and restart-from-checkpoint.
  */
class MultimodalCurationSinkSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf0001
  private val pid = ProcessHandle.current().pid()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def bucketed: DataFrame =
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))

  private def slice(lo: Int, hi: Int): DataFrame =
    bucketed.filter(col("bucket") >= lo && col("bucket") < hi)
      .select("doc_id", "text")

  /** Wide multimodal arrivals for a slice — [[Multimodal.mintWide]]'s
    * body (the arrival moduli and the per-modality poison rule shared
    * with q133/q135, so the stream and the batch queries cannot
    * drift).
    */
  private def wide(lo: Int, hi: Int): DataFrame =
    Multimodal.mintWide(spark, slice(lo, hi), corrupt = true).toDF()

  /** One modality's frozen cells + a seeded history index under
    * `name` — the maintenance-loop setup (Lloyd over the history
    * slice's decoded features, K=8, 2 iterations).
    */
  private def seedModal(name: String,
      featsOf: DataFrame => DataFrame, featCol: String,
      assignB: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val hist = featsOf(slice(0, 200)).localCheckpoint(true)
    val cents = Clustering.lloydCentroids(
      hist.select(col("vec_id"),
        transform(col(featCol), x => x.cast("long")).as("qv")), 8, 2)
      .localCheckpoint(true)
    ClusterIndex.Layout.write(spark, assignB(hist, cents), name,
      Paths.get(IndexCommit.indexRoot, name))
    hist.unpersist()
    cents
  }

  /** Seed a full estate (fp index + three modal indexes) under the
    * `tag`-suffixed names; returns the three ModalIndex handles.
    */
  private def seedEstate(tag: String, art: => Unit = ()): (String,
      MultimodalCurationSink.ModalIndex, MultimodalCurationSink.ModalIndex,
      MultimodalCurationSink.ModalIndex) = {
    val fp = s"graft_fp_mmsink_${tag}_$pid"
    FpIndex.buildIndex(spark, slice(0, 200), fp,
      Paths.get(IndexCommit.indexRoot, fp))
    val img = s"graft_cluster_img_mmsink_${tag}_$pid"
    val aud = s"graft_cluster_aud_mmsink_${tag}_$pid"
    val vid = s"graft_cluster_vid_mmsink_${tag}_$pid"
    val ic = seedModal(img, Clustering.imageFeaturesOf(spark, _), "hist",
      ClusterIndex.assignImageBatch)
    val ac = seedModal(aud, Clustering.audioFeaturesOf(spark, _), "env",
      ClusterIndex.assignAudioBatch)
    val vc = seedModal(vid, Clustering.videoFeaturesOf(spark, _), "vfeat",
      ClusterIndex.assignVideoBatch)
    (fp, MultimodalCurationSink.ModalIndex(img, ic),
      MultimodalCurationSink.ModalIndex(aud, ac),
      MultimodalCurationSink.ModalIndex(vid, vc))
  }

  private def dropEstate(fp: String,
      mis: MultimodalCurationSink.ModalIndex*): Unit = {
    (fp +: mis.map(_.name)).foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS `$n`")
      graft.core.Lake.deleteTree(s"${IndexCommit.indexRoot}/$n")
      graft.core.Lake.deleteTree(s"${IndexCommit.indexRoot}/$n")
    }
    mis.foreach(_.centroids.unpersist())
  }

  /** Healthy payload rows of one modality for the component sinks —
    * the quarantined (poisoned) arrivals removed, exactly what the
    * composed sink's decode leg admits to the modal prunes.
    */
  private def healthy(w: DataFrame, payload: String,
      rem: Long): DataFrame =
    w.filter(col(payload).isNotNull &&
        col("doc_id") % Multimodal.CorruptMod =!= rem)
      .select(col("doc_id").as("vec_id"), col(payload))

  private lazy val art = CurationSink.artifactsOf(slice(0, 200))

  test("composed verdicts ≡ component sinks; quarantine diverts, never kills") {
    val (fpA, imgA, audA, vidA) = seedEstate("a")
    val (fpB, imgB, audB, vidB) = seedEstate("b")
    val outA = tmp("graft-mmsink-a")
    val outT = tmp("graft-mmsink-t")
    val outI = tmp("graft-mmsink-i")
    val outU = tmp("graft-mmsink-u")
    val outV = tmp("graft-mmsink-v")
    try {
      val w1 = wide(200, 230).localCheckpoint(true)
      val w2 = wide(230, 256).localCheckpoint(true)
      // the COMPOSED sink, batches 1 and 2
      assert(MultimodalCurationSink.applyBatch(w1, 0L, fpA, dir, art,
        imgA, audA, vidA, outA))
      assert(MultimodalCurationSink.applyBatch(w2, 1L, fpA, dir, art,
        imgA, audA, vidA, outA))
      val got = MultimodalCurationSink.verdicts(spark, outA)
        .localCheckpoint(true)

      // text leg ≡ CurationSink (surface 16) on the same text stream
      assert(CurationSink.applyBatch(w1.select("doc_id", "text"), 0L,
        fpB, dir, art, outT))
      assert(CurationSink.applyBatch(w2.select("doc_id", "text"), 1L,
        fpB, dir, art, outT))
      val textCols = Seq("batch_id", "doc_id", "n_spans",
        "n_chars_removed", "n_sh", "n_hit", "n_bigrams", "lm_micro_nats",
        "avg_mn", "contaminated", "clean_text")
      val gotText = got
        .select(textCols.map(col) :+ col("text_kept").as("kept"): _*)
        .collect().toSeq
        .map(_.toSeq).sortBy(_.toString)
      val wantText = CurationSink.verdicts(spark, outT)
        .select((textCols :+ "kept").map(col): _*).collect().toSeq
        .map(_.toSeq).sortBy(_.toString)
      assert(gotText == wantText,
        "composed text columns must equal the certified CurationSink run")

      // modal legs ≡ the standalone modal sinks (surfaces 20/22/23)
      // over the HEALTHY payload streams
      def modalPairs(pfx: String): Seq[(Long, Long, Option[Long], Boolean)] =
        got.filter(col(s"${pfx}_kept").isNotNull)
          .select(col("batch_id"), col("doc_id"), col(s"${pfx}_dup_of"),
            col(s"${pfx}_kept"))
          .collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            r.getBoolean(3)))
          .sortBy(t => (t._1, t._2))
      def sinkPairs(out: String): Seq[(Long, Long, Option[Long], Boolean)] =
        ModalDedupIngest.verdicts(spark, out)
          .select("batch_id", "vec_id", "dup_of", "kept").collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            r.getBoolean(3)))
          .sortBy(t => (t._1, t._2))
      assert(ImageDedupSink.applyBatch(
        healthy(w1, "image", Multimodal.CorruptImgRem), 0L,
        imgB.name, imgB.centroids, outI))
      assert(ImageDedupSink.applyBatch(
        healthy(w2, "image", Multimodal.CorruptImgRem), 1L,
        imgB.name, imgB.centroids, outI))
      assert(modalPairs("img") == sinkPairs(outI),
        "composed image verdicts must equal the ImageDedupSink run")
      assert(AudioDedupSink.applyBatch(
        healthy(w1, "audio", Multimodal.CorruptAudRem), 0L,
        audB.name, audB.centroids, outU))
      assert(AudioDedupSink.applyBatch(
        healthy(w2, "audio", Multimodal.CorruptAudRem), 1L,
        audB.name, audB.centroids, outU))
      assert(modalPairs("aud") == sinkPairs(outU),
        "composed audio verdicts must equal the AudioDedupSink run")
      assert(VideoDedupSink.applyBatch(
        healthy(w1, "video", Multimodal.CorruptVidRem), 0L,
        vidB.name, vidB.centroids, outV))
      assert(VideoDedupSink.applyBatch(
        healthy(w2, "video", Multimodal.CorruptVidRem), 1L,
        vidB.name, vidB.centroids, outV))
      assert(modalPairs("vid") == sinkPairs(outV),
        "composed video verdicts must equal the VideoDedupSink run")

      // the kept algebra: text ∧ every healthy carried modality; a
      // quarantined attachment neither keeps nor kills
      val bad = got.filter(col("kept") =!= (col("text_kept") &&
        coalesce(col("img_kept"), lit(true)) &&
        coalesce(col("aud_kept"), lit(true)) &&
        coalesce(col("vid_kept"), lit(true))))
      assert(bad.isEmpty, "kept must be text ∧ healthy modal keeps")

      // quarantine: the poisoned arrivals are diverted with the
      // decoders' own reasons — and the stream SURVIVED them (we got
      // this far), the policy's whole point
      val quar = MultimodalCurationSink.quarantined(spark, outA)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val arrivals = w1.unionByName(w2)
      def corruptIds(payload: String, rem: Long): Set[Long] =
        arrivals.filter(col(payload).isNotNull &&
            col("doc_id") % Multimodal.CorruptMod === rem)
          .select("doc_id").as[Long].collect().toSet
      assert(quar.filter(_._2 == "image").map(_._1).toSet ==
        corruptIds("image", Multimodal.CorruptImgRem))
      assert(quar.filter(_._2 == "audio").map(_._1).toSet ==
        corruptIds("audio", Multimodal.CorruptAudRem))
      assert(quar.filter(_._2 == "video").map(_._1).toSet ==
        corruptIds("video", Multimodal.CorruptVidRem))
      assert(quar.nonEmpty, "fixture must exercise the quarantine path")
      assert(quar.forall(_._3.contains("bad magic")),
        "reasons must be the decoders' own messages")
      // n_quarantined mirrors the log
      val nq = got.agg(sum(col("n_quarantined"))).head().getLong(0)
      assert(nq == quar.size)

      // replay guard: an already-served batch is a no-op
      assert(!MultimodalCurationSink.applyBatch(w1, 0L, fpA, dir, art,
        imgA, audA, vidA, outA))
      got.unpersist(); w1.unpersist(); w2.unpersist()
    } finally {
      dropEstate(fpA, imgA, audA, vidA)
      dropEstate(fpB, imgB, audB, vidB)
      Seq(outA, outT, outI, outU, outV).foreach(graft.core.Lake.deleteTree)
    }
  }

  test("restart from checkpoint + crash-window replay stay identical") {
    val (fpC, imgC, audC, vidC) = seedEstate("c")
    val (fpD, imgD, audD, vidD) = seedEstate("d")
    val outC = tmp("graft-mmsink-c")
    val outD = tmp("graft-mmsink-d")
    val ckpt = tmp("graft-mmsink-ckpt")
    try {
      val w1 = wide(200, 230).localCheckpoint(true)
      val w2 = wide(230, 256).localCheckpoint(true)
      // the clean direct run (reference)
      assert(MultimodalCurationSink.applyBatch(w1, 0L, fpD, dir, art,
        imgD, audD, vidD, outD))
      assert(MultimodalCurationSink.applyBatch(w2, 1L, fpD, dir, art,
        imgD, audD, vidD, outD))
      // the streamed run: batch 1 under query 1, then a CRASHED batch-2
      // attempt (all four index appends landed, no commit), then
      // restart — query 2 replays batch 2 against the half-committed
      // state; the exclusion seams must make it byte-identical
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[Multimodal.MultimodalRecord]
      def start() = MultimodalCurationSink.attach(stream.toDF(),
        fpC, dir, art, imgC, audC, vidC, outC, ckpt)
      def rows(w: DataFrame): Seq[Multimodal.MultimodalRecord] =
        w.as[Multimodal.MultimodalRecord].collect().toSeq
      val q1 = start()
      try { stream.addData(rows(w1): _*); q1.processAllAvailable() }
      finally q1.stop()
      // the crashed attempt: fingerprints + each modality's admitted
      // rows appended out-of-band, no pointer commit
      FpIndex.append(spark, fpC, w2.select("doc_id", "text"))
      def halfAppend(payload: String, rem: Long,
          mi: MultimodalCurationSink.ModalIndex,
          assignB: (DataFrame, DataFrame) => DataFrame,
          featsOf: DataFrame => DataFrame): Unit = {
        val b = assignB(featsOf(healthy(w2, payload, rem)), mi.centroids)
          .localCheckpoint(true)
        val v = ClusterIndex.probeVerdicts(spark, mi.name, b,
          excludeBatchFromHistory = true)
        ClusterIndex.Layout.append(mi.name,
          b.join(v.filter(col("kept")).select("vec_id"), "vec_id"))
        b.unpersist()
      }
      halfAppend("image", Multimodal.CorruptImgRem, imgC,
        ClusterIndex.assignImageBatch,
        Clustering.imageHistogramsOf(spark, _))
      halfAppend("audio", Multimodal.CorruptAudRem, audC,
        ClusterIndex.assignAudioBatch,
        Clustering.audioEnvelopesOf(spark, _))
      halfAppend("video", Multimodal.CorruptVidRem, vidC,
        ClusterIndex.assignVideoBatch,
        Clustering.videoSumsOf(spark, _))
      val q2 = start()
      try { stream.addData(rows(w2): _*); q2.processAllAvailable() }
      finally q2.stop()
      assert(VersionedPointer.latest(outC).exists(_ >= 1L))
      def all(out: String): Seq[Seq[Any]] =
        MultimodalCurationSink.verdicts(spark, out).collect().toSeq
          .map(_.toSeq).sortBy(_.toString)
      assert(all(outC) == all(outD),
        "restarted + crash-replayed stream must equal the clean direct run")
      w1.unpersist(); w2.unpersist()
    } finally {
      dropEstate(fpC, imgC, audC, vidC)
      dropEstate(fpD, imgD, audD, vidD)
      Seq(outC, outD, ckpt).foreach(graft.core.Lake.deleteTree)
    }
  }

  test("the governance card rebuilt from the sink's logs equals the arrival-derived card") {
    // q138's scaladoc claims the weekly card runs unchanged over the
    // persisted quarantine logs — make that a fact: ONE aggregation
    // body (Multimodal.quarantineCardOf), fed once from what a
    // data-quality owner has at hand at 100 TB (the committed verdict
    // rows' arrival flags + the quarantine log) and once from q138's
    // in-query arrival decode, must emit identical rows.
    import graft.functions.MediaCodecs
    val (fp, img, aud, vid) = seedEstate("card")
    val out = tmp("graft-mmsink-card")
    try {
      val w = wide(200, 240).localCheckpoint(true)
      assert(MultimodalCurationSink.applyBatch(w, 0L, fp, dir, art,
        img, aud, vid, out))
      val v = MultimodalCurationSink.verdicts(spark, out)
      val arrivals = Seq(("has_image", "image"), ("has_audio", "audio"),
        ("has_video", "video"))
        .map { case (h, m) =>
          v.filter(col(h)).select(col("doc_id"), lit(m).as("modality"))
        }
        .reduce(_ unionByName _)
      val attLogs = arrivals.join(
        MultimodalCurationSink.quarantined(spark, out)
          .select("doc_id", "modality", "reason"),
        Seq("doc_id", "modality"), "left")
      // the in-query form over the same arrivals (q138's exact device)
      val safeImg = MediaCodecs.quarantining(MediaCodecs.PpmCodec.decode)
      val safeAud = MediaCodecs.quarantining(MediaCodecs.WavCodec.decode)
      val safeVid = MediaCodecs.quarantining(
        MediaCodecs.VideoCodec.decodeSampledSums(_))
      val attQuery = w.as[Multimodal.MultimodalRecord]
        .flatMap { r =>
          Seq(
            r.image.map(b => (r.doc_id, "image", safeImg(b).left.toOption)),
            r.audio.map(b => (r.doc_id, "audio", safeAud(b).left.toOption)),
            r.video.map(b => (r.doc_id, "video", safeVid(b).left.toOption)))
            .flatten
        }
        .toDF("doc_id", "modality", "reason")
      val docs = graft.core.Tables(spark, dir, "documents")
        .select("doc_id", "source")
      def rows(att: DataFrame): Seq[String] =
        Multimodal.quarantineCardOf(att, docs).collect().toSeq
          .map(_.toString).sorted
      val got = rows(attLogs)
      assert(got.nonEmpty && got == rows(attQuery),
        "the log-derived card must equal the arrival-derived card")
      w.unpersist()
    } finally {
      dropEstate(fp, img, aud, vid)
      graft.core.Lake.deleteTree(out)
    }
  }
}
