package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Lake, Pin, QueryDef, Tables}

/** q115 — the composed end-to-end LLM-training-data curation pipeline:
  * every cleaning stage the engine provides, chained over ONE corpus in
  * the order a production pretraining-data run applies them, emitting
  * the final mixed train split with per-stage evidence columns.
  *
  *   ingest (benchmark held out)                      — q53's boundary
  *   → exact near-key dedup, keep-first               — q34's key
  *   → near-dup cluster apply (MinHash+LSH+CC)        — q36/q39/q56
  *   → char-span dedup apply (winnowing, FpIndex)     — q106–q108
  *   → benchmark decontamination apply (BloomIndex)   — q53/q99/q105
  *   → corpus-LM quality filter (bottom 20% dropped)  — q73/q111
  *   → leakage-safe split by near-dup GROUP, train    — q103
  *   → source-weighted epoch mix                      — q57
  *
  * The reference's analogue is its own composed cascade — Parts 1–4
  * orchestrated as one run (run_drugs_all.py:591-786), which this repo
  * mirrors for drugs in [[graft.pipelines.DrugsPipeline]]; q115 is the
  * same composition proof for the LLM-data estate. Composition is
  * where stage interactions live (the splice changes the shingles the
  * decontaminator sees; the filter changes the split's strata; the
  * split group graph is computed over the FILTERED corpus, not the
  * raw one), so the oracle chains each stage's EXISTING oracle text —
  * the CTE fragments are the very constants the standalone queries are
  * built from ([[Dedup.clustersCteOver]]/[[Dedup.nearDupKeepTail]]/
  * [[Dedup.groupSplitGrpCte]]/[[Dedup.decontamApplyCtes]]/
  * [[Winnow.selCteOver]]/[[Winnow.SpanApplyCtes]]/
  * [[TextAnalysis.exactKeySelectOver]]/[[TextAnalysis.LmFilterCtes]]/
  * [[TextAnalysis.SourceWeightSql]]) with only the input relation
  * substituted, so a standalone query and its pipeline stage CANNOT
  * drift — and the Spark side reuses the same shared stage functions.
  *
  * Scale design (the 100-TB shape):
  *  - every stage's plan is its standalone query's plan — the curved
  *    shapes (LSH banding with hot-key caps, one-shuffle-per-round CC,
  *    map-side bloom prefilter, vocabulary-sized LM count tables,
  *    doc-level percentile) — applied to a shrinking survivor corpus;
  *  - the two persisted indexes are READ, never rebuilt in-line:
  *    [[FpIndex.ensure]] serves the char-dedup fingerprints (restricted
  *    to survivors by one doc_id join — fingerprinting is per-doc, so
  *    index-rows ∩ survivors ≡ fingerprints-of-survivors, proven by
  *    the oracle recomputing them from the stage input), and
  *    [[BloomIndex.ensure]] serves the benchmark shingles
  *    ([[CurationPipelineSpec]] pins both: plan contains both index
  *    scans, no index file is touched by a q115 run);
  *  - stage-to-stage survivor joins are doc_id equi-joins (narrow key
  *    frames), and every keep-decision is a pure function of data the
  *    stage computes — no driver-side loops, no collected sets.
  */
object CurationPipeline {

  /** Stage materialization barrier. Each stage frame is consumed 2–3
    * times by its successors (the survivor join, the stage's own
    * detect computation, and the evidence join) — left lazy, the
    * recomputation MULTIPLIES down the chain (stage k re-evaluated
    * ~2^k times; the measured sf0.01 wall was ~3 min lazy vs seconds
    * pinned — the same exponential the oracle needed MATERIALIZED
    * stage CTEs for). Two modes:
    *
    *  - DEFAULT: a [[Pin]] named `<query>:<stage>` — the in-engine
    *    barrier at harness scale (no files, no restartability; a
    *    crashed run restarts from zero). The per-stage name keeps the
    *    call-site attribution per stage.
    *  - LAKE MODE ([[stageDir]] set): each stage frame is written as a
    *    GENERATION SNAPSHOT — parquet data via temp-sibling build +
    *    rename, then a `_GRAFT_DONE` marker carrying the corpus
    *    fingerprint written at the destination strictly LAST (the
    *    [[IndexCommit]] publish discipline: the marker never rides
    *    inside the renamed tree, so a torn copy-emulated rename can
    *    never read as valid) — and read back. A rerun finds a marker whose fingerprint matches the
    *    live corpus and RESUMES from the snapshot without recomputing
    *    the stage; a corpus regeneration stales every marker at once.
    *    This is the 100-TB shape: a crashed 8-stage run over 100 TB
    *    restarts from its last completed stage, not from zero
    *    (CurationPipelineSpec proves resumed output byte-identical and
    *    the resume genuinely load-bearing — untouched snapshots are
    *    not rewritten).
    */
  private def pin(s: SparkSession, fp: String, qtag: String, stage: String)(
      df: => DataFrame): DataFrame =
    stageDir match {
      case None => Pin(df, s"$qtag:$stage")
      case Some(root) =>
        val p = s"$root/$stage"
        val dataDir = s"$p/data"
        // freshness is marker↔tree-BOUND, not marker-matches-alone
        // ([[IndexCommit.markedValid]] — the one shared publish
        // protocol): a concurrent rebuild's deleteTree racing a
        // winner's marker write strands a marker-only snapshot, and a
        // crash MID-deleteTree strands the old marker beside partial
        // old data; both must read as absent and rebuild — the
        // manifest in the marker sees exactly those states (LakeSpec
        // proves them against a hostile non-atomic-rename store)
        def bound =
          IndexCommit.markedValid(Paths.get(p), IndexCommit.DoneMarker, fp) &&
            Lake.exists(dataDir)
        // a crashed publish's same-fp original may sit in a retiree —
        // restoring it is one rename where the recompute below is the
        // stage's full cost ([[IndexCommit.restoreRetiree]])
        val fresh = bound ||
          (IndexCommit.restoreRetiree(Paths.get(p), Some(fp)) && bound)
        if (!fresh) {
          val tmp = p + ".build-" + ProcessHandle.current().pid()
          Lake.deleteTree(tmp)
          Lake.mkdirs(tmp)
          df.write.mode("overwrite").parquet(s"$tmp/data")
          // temp-sibling publish + marker (fp + nonce + manifest)
          // written LAST at the destination — IndexCommit's exact
          // tail (including the retire-not-delete of the stale
          // snapshot), shared so the stage snapshots and the index
          // estate cannot drift on race handling
          IndexCommit.publishMarked(Paths.get(tmp), Paths.get(p),
            IndexCommit.DoneMarker, fp, "stage snapshot")
        }
        s.read.parquet(dataDir)
    }

  /** Lake-mode root for q115's stage snapshots; unset = in-engine
    * [[Pin]] barriers. The system property is the test seam,
    * the env var the deployment surface ([[IndexCommit.numBuckets]]'s
    * pattern).
    */
  private def stageDir: Option[String] =
    sys.props.get("graft.stage.dir")
      .orElse(sys.env.get("SPARK_GRAFT_STAGE_DIR"))

  /** The fingerprint lake-mode snapshots are keyed on: corpus metadata
    * PLUS a STAGE-RULES TAG — the md5 of this pipeline's own chained
    * oracle text, which is generated from the very constants every
    * stage runs under (BoilerplateClean thresholds, shingle/band
    * parameters, the decontam ratio, the LM cutoff, the split
    * fraction, source weights). Resuming is only sound when the
    * snapshot was built under the SAME rules as the resuming run; a
    * corpus fingerprint alone would happily resume across a rule
    * change and serve stage output the new rules never produced (the
    * `sourceFingerprint` "callers append a PARAMS TAG" discipline,
    * here derived rather than hand-maintained — a drifted constant
    * cannot be forgotten because the oracle text embeds it).
    */
  private def lakeFp(dir: String, oracleText: String): String =
    IndexCommit.sourceFingerprint(dir, "documents.parquet") +
      ":" + IndexCommit.md5hex(oracleText).take(12) + ":lake-v2"

  private[operators] def lakeFingerprint(dir: String): String =
    lakeFp(dir, oracle)

  private[operators] def lakeFingerprintImage(dir: String): String =
    lakeFp(dir, oracle123)

  private[operators] def lakeFingerprintTri(dir: String): String =
    lakeFp(dir, oracle128)

  private[operators] def lakeFingerprintQuad(dir: String): String =
    lakeFp(dir, oracle131)

  private[operators] def lakeFingerprintPoisoned(dir: String): String =
    lakeFp(dir, oracle137)

  /** The composed curation chain — q115 (text corpus); with
    * `withImages`, q123 (MIXED text+image corpus: every third doc
    * carries an image attachment, and an attachment-level dedup stage
    * s2i joins its keep-decisions back into the doc-level verdict
    * stack between the text near-dup stage and the span stage); with
    * `withAudio` additionally, q128 (TRIMODAL corpus: every doc with
    * doc_id % 4 = 1 also carries an audio attachment — the moduli
    * overlap, so some docs carry BOTH attachments, the interleaved
    * shape real multimodal corpora have — and stage s2a prunes on the
    * audio modality from the persisted AUDIO ClusterIndex); with
    * `withVideo` additionally, q131 (QUADMODAL: docs with
    * doc_id % 5 = 2 also carry a video attachment, pruned by stage
    * s2v from the persisted VIDEO ClusterIndex — every modality the
    * engine supports flowing through one composed run). ONE body for
    * all four so the shared stages cannot drift between the
    * capstones; `withImages=false` is exactly the round-13 q115 chain.
    */
  private def chain(s: SparkSession, dir: String,
      withImages: Boolean, withAudio: Boolean = false,
      withVideo: Boolean = false,
      modalCells: Option[Int] = None,
      poisoned: Boolean = false): DataFrame = {
    requireLadder(withImages, withAudio, withVideo)
    // knob-mode stage frames are NOT the generation the lake snapshots
    // are fingerprinted on (the fingerprint hashes the fixed-K oracle
    // text) — mixing them would resume wrong frames; fail loudly
    require(modalCells.isEmpty || stageDir.isEmpty,
      "quadmodalKnob cannot run in lake mode (snapshot fingerprints " +
        "describe the fixed-K oracle generation)")
    // the poisoned capstone is the FULL quad rung only (the corruption
    // rule spans all three attachment modalities), and its verdicts
    // are learned in-query over the healthy set — never the persisted
    // fixed-K indexes (they describe a healthy-by-construction corpus)
    // and never the knob cells
    require(!poisoned || (withVideo && modalCells.isEmpty),
      "poisoned capstone: quadmodal only, in-query healthy-learned cells")
    graft.functions.GraftFunctions.register(s)
    // entering lake mode: reclaim `.build-<pid>` temp siblings a
    // CRASHED prior run left under the stage root (the janitor's
    // dead-pid rule) — without this, every crash-resume cycle leaks
    // one temp tree, in exactly the scenario lake mode exists for
    stageDir.foreach(root => IndexCommit.purgeStaleScratch(root))
    val corpusFp =
      if (poisoned) lakeFingerprintPoisoned(dir)
      else if (withVideo) lakeFingerprintQuad(dir)
      else if (withAudio) lakeFingerprintTri(dir)
      else if (withImages) lakeFingerprintImage(dir)
      else lakeFingerprint(dir)
    // distinct snapshot names per chain variant ("m"/"t"/"v"/"p"
    // prefix): the pipelines' stage frames differ from s2i/s2a/s2v on,
    // and their fingerprints differ (each hashes its own oracle), so
    // sharing names would thrash
    val qtag = if (poisoned) "q137" else if (withVideo) "q131"
      else if (withAudio) "q128"
      else if (withImages) "q123" else "q115"
    val pfx = if (poisoned) "p" else if (withVideo) "v"
      else if (withAudio) "t"
      else if (withImages) "m" else ""
    def pinStage(stage: String)(df: => DataFrame): DataFrame =
      pin(s, corpusFp, qtag, pfx + stage)(df)
    // s0: ingest — the training-corpus side of q53's boundary; the
    // benchmark slice (bucket >= 250) never enters the pipeline
    val s0 = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .withColumn("bucket", BandIndex.ingestBucket)
      .filter(col("bucket") < 250)
      .drop("bucket")

    // s0m: markup-aware ingest (q120). One in five docs ARRIVES as an
    // HTML-ish page (title/nav/content/footer — the original text is
    // the page's content line); every doc passes through the
    // boilerplate extractor, docs reduced to nothing drop here. The
    // persisted-FpIndex contract this must preserve: extraction
    // RECOVERS a survivor's original text exactly (boilerplate lines
    // strip away, the content line is the pre-trimmed original), so
    // s3's index rows — fingerprinted over original texts — remain the
    // fingerprints of the stage corpus. Load-bearing at corpus scale:
    // short-ish stopword-poor docs fail their own content line's
    // verdict and leave the pipeline before s1.
    val s0m = pinStage("s0m")(s0
      .withColumn("arriving",
        when(col("doc_id") % 5 === 0,
          expr(TextAnalysis.BoilerplateWrapSql)).otherwise(col("text")))
      .select(col("doc_id"),
        call_function("graft_boilerplate_clean", col("arriving")).as("c"),
        col("lang"), col("source"))
      .select(col("doc_id"), col("c.clean_text").as("text"), col("lang"),
        col("source"), (col("c.n_lines") - col("c.n_kept")).as("n_bp_dropped"))
      .filter(length(col("text")) > 0))

    // s1: exact near-key dedup, keep-first (q34's key fingerprint).
    // NOTE (round-16, measured and REJECTED): min(doc_id) per key_fp IS
    // a member doc_id, so the keyed⋈firsts join below could be replaced
    // by joining s0m with firsts.first_doc directly — one fewer
    // evaluation of the corpus-sized exactKeyCol subtree. Tried twice:
    // bare (the modal rungs regressed 10–30% — the removed SMJ was
    // incidentally this stage's parallelism source; without it the
    // survivor join broadcasts `firsts` and the s1 checkpoint inherits
    // the one-input-split scan's partitioning, which every
    // broadcast-joined downstream stage then keeps), and with
    // CpuSpread.byKey restoring the width (q115 8.7→8.2, q131 9.1→7.9
    // — but q137's in-session bench cost rose ~+2.5 s reproducibly
    // across three paired sessions, unattributable by solo-run
    // call-site profile, which measured the opposite). The keyed⋈firsts
    // shape stays until a quieter host can adjudicate the poisoned
    // rung; the duplicated exactKeyCol pass it pays is ~0.7% of the
    // capstone (ps1 in plans/r16/q137_stageprofile_*).
    val keyed = s0m.select(col("doc_id"),
      TextAnalysis.exactKeyCol.as("key_fp"))
    val firsts = keyed.groupBy("key_fp")
      .agg(min(col("doc_id")).as("first_doc"))
    val s1 = pinStage("s1")(s0m.join(
      keyed.join(firsts, "key_fp")
        .filter(col("doc_id") === col("first_doc"))
        .select("doc_id"),
      "doc_id"))

    // s2: near-dup cluster apply (q56) over the exact-dedup survivors
    val labels1 = Dedup.connectedComponents(Dedup.minhashPairsOf(s1))
      .withColumnRenamed("id", "doc_id")
    val s2 = pinStage("s2")(s1.join(labels1, Seq("doc_id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .drop("label"))

    // s2i (q123 only): image-ATTACHMENT dedup (q121's within-cell
    // prune from the PERSISTED image ClusterIndex). Every third doc
    // arrives with an image attachment (the q121 minting — vec_id ≡
    // doc_id); attachment verdicts are computed CORPUS-WIDE over all
    // attachment-bearing docs in the index — deliberately wider than
    // the stage's survivor set, because the image modality's estate is
    // per corpus GENERATION: an arrival whose image near-duplicates an
    // already-indexed image is pruned whatever happened to the other
    // doc's TEXT, and an image matching a benchmark-slice doc's image
    // is eval leakage through the second modality — exactly what a
    // multimodal pretraining run must drop. The plan rides the index's
    // cid bucketing: the %3 filter pushes into the bucketed scan, the
    // within-cell self-join stays exchange-free (q113's shape,
    // MultimodalCurationSpec pins read-never-rebuilt), and the
    // doc-level join-back is one narrow equi-join.
    // the modal verdict SOURCE: the persisted fixed-K assignment index
    // (the oracle-gated form), or — knob mode ([[quadmodalKnob]]) —
    // hash cells ∝ corpus over the same decoded features; the stage
    // wiring below is identical either way. Knob mode featurizes ONLY
    // the attachment-bearing docs: the modulus filter cannot push
    // below a typed mapPartitions decode, so it is applied to the doc
    // scan BEFORE minting (result-identical — cid/nrm are per-row) —
    // the timed knob curve must not pay 3x/4x/5x wasted codec work
    def knobDocs(mod: Int, rem: Int): DataFrame =
      Tables(s, dir, "documents")
        .filter(col("doc_id") % mod === rem)
        .select(col("doc_id"), col("text"))
    def modalFull(ensured: => String,
        feats: => DataFrame, featCol: String): DataFrame =
      modalCells match {
        case None    => s.table(ensured)
        case Some(c) => Clustering.modalKnobFrame(feats, featCol, c)
      }
    // POISONED mode (q137): the bad-record seam composed into the
    // batch backfill — ONE quarantining decode pass over every
    // attachment-bearing doc of the corrupted corpus
    // ([[Multimodal.mintWide]]'s poison rule), pinned, then each modal
    // stage learns its cells over its HEALTHY features only (q136's
    // device per modality) and carries the decoder's own reason for
    // the diverted attachments. Quarantine is per ATTACHMENT: a
    // quarantined attachment has no verdict row, which the stage
    // filters below read as "diverted, not a veto" — the doc keeps
    // flowing with its healthy modalities, and the job never dies.
    val poisonDec: Option[DataFrame] = if (!poisoned) None else Some {
      import s.implicits._
      import graft.functions.MediaCodecs
      val safeImg = MediaCodecs.quarantining(
        (b: Array[Byte]) => MediaCodecs.PpmCodec.decodeHistogram(b))
      val safeAud = MediaCodecs.quarantining(
        (b: Array[Byte]) => MediaCodecs.WavCodec.decodeEnvelope(b))
      val safeVid = MediaCodecs.quarantining(
        (b: Array[Byte]) => MediaCodecs.VideoCodec.decodeSampledSums(b))
      Pin(Multimodal.mintWide(s,
          Tables(s, dir, "documents")
            .filter(col("doc_id") % 3 === 0 || col("doc_id") % 4 === 1 ||
              col("doc_id") % 5 === 2)
            .select(col("doc_id"), col("text")),
          corrupt = true)
        .mapPartitions { it =>
          it.map { r =>
            val img = r.image.map(safeImg)
            val aud = r.audio.map(safeAud)
            val vid = r.video.map(safeVid)
            (r.doc_id,
              img.flatMap(_.toOption), img.flatMap(_.left.toOption),
              aud.flatMap(_.toOption), aud.flatMap(_.left.toOption),
              vid.flatMap(_.toOption), vid.flatMap(_.left.toOption))
          }
        }
        .toDF("doc_id", "hist", "img_reason", "env", "aud_reason",
          "vfeat", "vid_reason"), s"$qtag:decode")
    }
    // healthy-learned within-cell verdicts for one modality of the
    // poisoned corpus: quarantined attachments are absent from the
    // learning sample, the Lloyd iterations, AND the pair join
    def healthyVerdicts(featCol: String): DataFrame = {
      // the assignment frame is pinned for semdedupFrom's three
      // consumers (the q104/q136 rule)
      val full = Pin(Clustering.sampledArtifacts(
        poisonDec.get.filter(col(featCol).isNotNull)
          .select(col("doc_id").as("vec_id"), col(featCol)),
        featCol)._2, s"$qtag:$featCol.assignment")
      Clustering.semdedupFrom(full)
        .select(col("vec_id").as("doc_id"), col("kept"))
    }
    def reasonsOf(reasonCol: String): DataFrame =
      poisonDec.get.select(col("doc_id"), col(reasonCol))
        .filter(col(reasonCol).isNotNull)
    val base = if (!withImages) s2 else {
      val imgVerdicts =
        (if (poisoned) healthyVerdicts("hist")
         else Clustering.semdedupFrom(
           modalFull(ClusterIndex.ensure(s, dir, ClusterIndex.Image),
             Clustering.imageFeaturesOf(s, knobDocs(3, 0)), "hist")
             .filter(col("vec_id") % 3 === 0))
           .select(col("vec_id").as("doc_id"), col("kept")))
          .select(col("doc_id"), col("kept").as("img_kept"))
      val joined = s2.join(imgVerdicts, Seq("doc_id"), "left")
        .filter(col("img_kept").isNull || col("img_kept"))
      pinStage("s2i")(
        if (!poisoned)
          joined.withColumn("has_image", col("img_kept").isNotNull)
            .drop("img_kept")
        else
          // attachment presence is the arrival rule, not the verdict
          // (a quarantined attachment has no verdict row but the doc
          // still CARRIES an image)
          joined.join(reasonsOf("img_reason"), Seq("doc_id"), "left")
            .withColumn("has_image", col("doc_id") % 3 === 0)
            .drop("img_kept"))
    }

    // s2a (q128 only): audio-ATTACHMENT dedup — s2i's rule at the
    // third modality, from the PERSISTED audio ClusterIndex (q126's
    // within-cell prune; the %4 filter pushes into the bucketed scan).
    // Verdicts are corpus-generation-wide exactly like s2i's: an
    // arrival whose clip near-duplicates ANY indexed clip is pruned,
    // benchmark-slice clips included — eval-leakage decontamination
    // through the third modality.
    val base2 = if (!withAudio) base else {
      val audVerdicts =
        (if (poisoned) healthyVerdicts("env")
         else Clustering.semdedupFrom(
           modalFull(ClusterIndex.ensure(s, dir, ClusterIndex.Audio),
             Clustering.audioFeaturesOf(s, knobDocs(4, 1)), "env")
             .filter(col("vec_id") % 4 === 1))
           .select(col("vec_id").as("doc_id"), col("kept")))
          .select(col("doc_id"), col("kept").as("aud_kept"))
      val joined = base.join(audVerdicts, Seq("doc_id"), "left")
        .filter(col("aud_kept").isNull || col("aud_kept"))
      pinStage("s2a")(
        if (!poisoned)
          joined.withColumn("has_audio", col("aud_kept").isNotNull)
            .drop("aud_kept")
        else
          joined.join(reasonsOf("aud_reason"), Seq("doc_id"), "left")
            .withColumn("has_audio", col("doc_id") % 4 === 1)
            .drop("aud_kept"))
    }

    // s2v (q131 only): video-ATTACHMENT dedup — the s2i/s2a rule at
    // the fourth modality, from the PERSISTED video ClusterIndex
    // (q129's within-cell prune over frame-sampled sums; the %5
    // filter pushes into the bucketed scan).
    val base3 = if (!withVideo) base2 else {
      val vidVerdicts =
        (if (poisoned) healthyVerdicts("vfeat")
         else Clustering.semdedupFrom(
           modalFull(ClusterIndex.ensure(s, dir, ClusterIndex.Video),
             Clustering.videoFeaturesOf(s, knobDocs(5, 2)), "vfeat")
             .filter(col("vec_id") % 5 === 2))
           .select(col("vec_id").as("doc_id"), col("kept")))
          .select(col("doc_id"), col("kept").as("vid_kept"))
      val joined = base2.join(vidVerdicts, Seq("doc_id"), "left")
        .filter(col("vid_kept").isNull || col("vid_kept"))
      pinStage("s2v")(
        if (!poisoned)
          joined.withColumn("has_video", col("vid_kept").isNotNull)
            .drop("vid_kept")
        else
          joined.join(reasonsOf("vid_reason"), Seq("doc_id"), "left")
            .withColumn("has_video", col("doc_id") % 5 === 2)
            .drop("vid_kept"))
    }

    // s3: char-span dedup apply (q108) from the PERSISTED FpIndex,
    // ownership decided among the stage's survivors only
    val fp = s.table(FpIndex.ensure(s, dir))
      .join(base3.select("doc_id"), "doc_id")
    val alld = base3.select(col("doc_id"), trim(col("text")).as("tx"))
      .withColumn("n", length(col("tx")))
    val s3 = pinStage("s3") {
      // pin the SMALL foreign-span frame: spliceClean consumes its
      // spans argument in three branches (gap fills, tails, stats) and
      // Catalyst re-evaluates the whole ownership-aggregate + islands
      // subtree — which re-reads the fp index and re-joins the survivor
      // set — once per branch when left lazy (the round-16 s3
      // measurement; the verdictBatch splice pin is the same rule one
      // layer up). Built inside the pinStage thunk so a lake-mode
      // resume never pays it.
      val spans = Pin(Winnow.foreignSpansOf(fp), s"$qtag:${pfx}s3")
      base3.drop("text")
        .join(Winnow.spliceClean(alld, spans), "doc_id")
        .withColumnRenamed("clean_text", "text")
    }

    // s4: decontamination apply (q105) against the PERSISTED benchmark
    // BloomIndex, shingles from the SPLICED texts
    val shingled = s3
      .select(col("doc_id"), split(trim(col("text")), graft.core.Ws.Plus).as("t"))
      .select(col("doc_id"), Dedup.shinglesOf(col("t")).as("shs"))
    // NOTE (round-16, measured and REJECTED): a one-pass
    // (n_sh, n_hit) variant — explode carrying size(shs), bloom as a
    // collect_list(when(mightContain...)) projection inside one per-doc
    // aggregate, confirm join over the collected candidates — was built
    // to stop the two consumers below re-evaluating the shingle subtree
    // twice. The call-site profile showed the stage's exec time DOUBLING (q137
    // ps4 5.6 -> 10.8 exec-s): the per-doc ObjectHashAggregate
    // (list building, two final aggregate evaluations over the shared
    // exchange) costs more than the duplicated split+trigram+distinct
    // it removes, at every scale the stage was measured. The two-pass
    // shape below is the measured winner — don't re-litigate blind.
    val verdicts = shingled.select(col("doc_id"), size(col("shs")).as("n_sh"))
      .join(BloomIndex.probeHitsOf(s, dir, shingled), Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .filter(!(col("n_sh") > 0 &&
        col("n_hit").cast("double") / col("n_sh").cast("double") >= 0.2))
    val s4 = pinStage("s4")(s3.join(verdicts.select("doc_id", "n_sh", "n_hit"), "doc_id"))

    // s5: LM-quality filter (q111), LM trained on THIS stage's corpus
    val s5 = pinStage("s5")(s4.join(
      TextAnalysis.lmFilterKeptOf(s4.select("doc_id", "text"), s"$qtag:${pfx}s5")
        .select("doc_id", "avg_mn"),
      "doc_id"))

    // s6: leakage-safe split (q103) over the filtered corpus; keep train
    val labels2 = Dedup.connectedComponents(Dedup.minhashPairsOf(s5))
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("label", "cluster_id")
    val grp = s5.join(labels2, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .drop("cluster_id")
    val gbucket = conv(substring(md5(
      concat(lit("g:"), col("group_id").cast("string"))), 1, 2), 16, 10)
      .cast("int")
    val s6 = grp.filter(gbucket < 204)

    // s7: source-weighted epoch mix (q57) over the final train split
    val evidence =
      Seq(col("doc_id"), col("lang"), col("source"), col("n_bp_dropped")) ++
        (if (withImages) Seq(col("has_image")) else Seq.empty) ++
        (if (withAudio) Seq(col("has_audio")) else Seq.empty) ++
        (if (withVideo) Seq(col("has_video")) else Seq.empty) ++
        (if (poisoned) Seq(col("img_reason"), col("aud_reason"),
          col("vid_reason"),
          (col("img_reason").isNotNull.cast("int") +
            col("aud_reason").isNotNull.cast("int") +
            col("vid_reason").isNotNull.cast("int")).as("n_quarantined"))
        else Seq.empty) ++
        Seq(col("n_spans"), col("n_chars_removed"), col("n_sh"), col("n_hit"),
          col("avg_mn"), col("group_id"),
          TextAnalysis.sourceWeightCol.as("weight"))
    s6.select(evidence: _*)
      .withColumn("epoch", explode(sequence(lit(1), col("weight"))))
      .orderBy("doc_id", "epoch")
  }

  /** The chained oracle: one nested-CTE block per stage, each body the
    * standalone query's oracle text over the previous stage's CTE.
    * `withImages` splices in the s2i attachment-dedup block — the q121
    * oracle's EXACT generators ([[Multimodal.ImageFeatureCtes]] /
    * [[Clustering.sampleCtes]] / [[Clustering.lloydIterCtes]] /
    * [[Clustering.afCte]] at dims=24) restricted to attachment-bearing
    * docs, so the image stage cannot drift from the standalone query.
    */
  /** Only the capstone LADDER q115 ⊂ q123 ⊂ q128 ⊂ q131 is coherent:
    * the stage wiring is cumulative (s2a selects FROM s2i's survivor
    * set, s2v from s2a's) and [[oracleFor]]'s CTE chain hard-codes the
    * same nesting — an off-ladder combination (video without audio,
    * audio without images) would run a chain its oracle text does not
    * describe and silently diverge. Shared by [[chain]] and
    * [[oracleFor]] so neither side can accept a rung the other
    * rejects.
    */
  private def requireLadder(withImages: Boolean, withAudio: Boolean,
      withVideo: Boolean): Unit = {
    require(!withAudio || withImages,
      "capstone ladder: withAudio requires withImages (q115⊂q123⊂q128⊂q131)")
    require(!withVideo || withAudio,
      "capstone ladder: withVideo requires withAudio (q115⊂q123⊂q128⊂q131)")
  }

  private def oracleFor(withImages: Boolean,
      withAudio: Boolean = false, withVideo: Boolean = false,
      poisoned: Boolean = false): String = {
    requireLadder(withImages, withAudio, withVideo)
    require(!poisoned || withVideo,
      "poisoned capstone oracle: quadmodal only")
    val s0 =
      "s0 AS MATERIALIZED (SELECT doc_id, text, lang, source FROM documents\n" +
        s"       WHERE ${Dedup.BucketSql} < 250)"
    // s0m: markup-aware ingest — the arrival wrap and the line algebra
    // are the q120 constants verbatim (BoilerplateWrapSql /
    // boilerplateCtes), so the stage cannot drift from the standalone
    // query's rule set
    val s0m =
      "s0a AS (SELECT doc_id, lang, source,\n" +
        s"  CASE WHEN doc_id % 5 = 0 THEN ${TextAnalysis.BoilerplateWrapSql}\n" +
        "       ELSE text END AS arriving FROM s0),\n" +
        TextAnalysis.boilerplateCtes("s0a", "arriving", "_c") + ",\n" +
        "s0m AS MATERIALIZED (\n" +
        "  SELECT a.doc_id, b.clean_text AS text, a.lang, a.source,\n" +
        "    b.n_lines - b.n_kept AS n_bp_dropped\n" +
        "  FROM s0a a JOIN bp_docs_c b USING (doc_id)\n" +
        "  WHERE len(b.clean_text) > 0)"
    val s1 =
      "s1 AS MATERIALIZED (\n  WITH kf AS (" + TextAnalysis.exactKeySelectOver("s0m") + "),\n" +
        "  k AS (SELECT key_fp, min(doc_id) AS first_doc FROM kf GROUP BY 1),\n" +
        "  keep AS (SELECT kf.doc_id FROM kf JOIN k USING (key_fp)\n" +
        "           WHERE kf.doc_id = k.first_doc)\n" +
        "  SELECT d.* FROM s0m d JOIN keep USING (doc_id))"
    val s2 =
      "s2 AS MATERIALIZED (\n" + Dedup.clustersCteOver("s1") +
        Dedup.nearDupKeepTail("s1",
          "d.doc_id, d.text, d.lang, d.source, d.n_bp_dropped") +
        ")"
    // s2i: the q121 image chain nested — features/sample/Lloyd/assign
    // over the FULL document corpus (what ClusterIndex.Image
    // persists), within-cell keep-first prune restricted to the
    // attachment-bearing docs (vec_id % 3 = 0), verdicts joined back
    // to the stage's doc-level survivor set
    // POISONED blocks (q137): the modal estate is learned over the
    // HEALTHY attachments only — the corrupt ids (mintWide's poison
    // rule, known by construction) are excluded from the learning
    // sample, the Lloyd iterations AND the pair join, so a leaked
    // quarantined row would shift every centroid/cid/dup_of and flip
    // the hash (q136's device, here at all three modalities) — and a
    // quarantined attachment DIVERTS with the decoder's own reason
    // instead of vetoing its doc
    def healthyE(mod: Int, rem: Long): String =
      if (poisoned) s"\n       WHERE doc_id % $mod = $rem AND doc_id % 7 <> ${
        if (mod == 3) Multimodal.CorruptImgRem
        else if (mod == 4) Multimodal.CorruptAudRem
        else Multimodal.CorruptVidRem}"
      else ""
    def reasonCol(mod: Int, rem: Long, corruptRem: Long, msg: String,
        name: String): String =
      if (poisoned)
        s""",
           |    CASE WHEN d.doc_id % $mod = $rem AND d.doc_id % 7 = $corruptRem
           |      THEN '$msg' END AS $name""".stripMargin
      else ""
    def divertKeep(corruptRem: Long): String =
      if (poisoned) s" OR d.doc_id % 7 = $corruptRem" else ""
    val s2i =
      "s2i AS MATERIALIZED (\n  WITH " + Multimodal.ImageFeatureCtes + ",\n" +
        "e AS (SELECT doc_id AS vec_id, v AS qv FROM f" +
        healthyE(3, 0) + "),\n" +
        Clustering.sampleCtes + ",\n" +
        Clustering.lloydIterCtes("smp", 24) + ",\n" +
        Clustering.afCte(24) + ",\n" +
        """iev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v
          |        FROM e WHERE vec_id % 3 = 0),
          |inv AS (SELECT vec_id, v,
          |          sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM iev),
          |iasg AS (SELECT af.vec_id, af.cid, inv.v, inv.nrm
          |         FROM af JOIN inv USING (vec_id)),
          |irem AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
          |         FROM iasg a JOIN iasg b
          |           ON a.cid = b.cid AND a.vec_id < b.vec_id
          |         WHERE list_sum(list_transform(generate_series(1, 24),
          |                 i -> a.v[i]*b.v[i])) / (a.nrm*b.nrm) >= 0.3
          |         GROUP BY 1)
          |  SELECT d.*, (d.doc_id % 3 = 0) AS has_image""".stripMargin +
        reasonCol(3, 0, Multimodal.CorruptImgRem,
          "PPM: bad magic (want P6) at byte 0", "img_reason") +
        s"""
          |  FROM s2 d LEFT JOIN irem r ON r.vec_id = d.doc_id
          |  WHERE d.doc_id % 3 <> 0${divertKeep(Multimodal.CorruptImgRem)
          } OR r.dup_of IS NULL)""".stripMargin
    // s2a: the q126 audio chain nested — the s2i block's structure at
    // the third modality (envelope features, dims=8, %4 attachments),
    // pruning against the corpus-generation-wide audio index and
    // joining back to the s2i survivor set
    val s2a =
      "s2a AS MATERIALIZED (\n  WITH " + Multimodal.AudioFeatureCtes + ",\n" +
        "e AS (SELECT doc_id AS vec_id, v AS qv FROM fa" +
        healthyE(4, 1) + "),\n" +
        Clustering.sampleCtes + ",\n" +
        Clustering.lloydIterCtes("smp", 8) + ",\n" +
        Clustering.afCte(8) + ",\n" +
        """aev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v
          |        FROM e WHERE vec_id % 4 = 1),
          |anv AS (SELECT vec_id, v,
          |          sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM aev),
          |aasg AS (SELECT af.vec_id, af.cid, anv.v, anv.nrm
          |         FROM af JOIN anv USING (vec_id)),
          |arem AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
          |         FROM aasg a JOIN aasg b
          |           ON a.cid = b.cid AND a.vec_id < b.vec_id
          |         WHERE list_sum(list_transform(generate_series(1, 8),
          |                 i -> a.v[i]*b.v[i])) / (a.nrm*b.nrm) >= 0.3
          |         GROUP BY 1)
          |  SELECT d.*, (d.doc_id % 4 = 1) AS has_audio""".stripMargin +
        reasonCol(4, 1, Multimodal.CorruptAudRem,
          "WAV: bad magic (want RIFF)", "aud_reason") +
        s"""
          |  FROM s2i d LEFT JOIN arem r ON r.vec_id = d.doc_id
          |  WHERE d.doc_id % 4 <> 1${divertKeep(Multimodal.CorruptAudRem)
          } OR r.dup_of IS NULL)""".stripMargin
    // s2v: the q129 video chain nested — the s2i/s2a block at the
    // fourth modality (frame-sampled sums, dims=12, %5 attachments)
    val s2v =
      "s2v AS MATERIALIZED (\n  WITH " + Multimodal.VideoFeatureCtes + ",\n" +
        "e AS (SELECT doc_id AS vec_id, v AS qv FROM fv" +
        healthyE(5, 2) + "),\n" +
        Clustering.sampleCtes + ",\n" +
        Clustering.lloydIterCtes("smp", 12) + ",\n" +
        Clustering.afCte(12) + ",\n" +
        """vev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v
          |        FROM e WHERE vec_id % 5 = 2),
          |vnv AS (SELECT vec_id, v,
          |          sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM vev),
          |vasg AS (SELECT af.vec_id, af.cid, vnv.v, vnv.nrm
          |         FROM af JOIN vnv USING (vec_id)),
          |vrem AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
          |         FROM vasg a JOIN vasg b
          |           ON a.cid = b.cid AND a.vec_id < b.vec_id
          |         WHERE list_sum(list_transform(generate_series(1, 12),
          |                 i -> a.v[i]*b.v[i])) / (a.nrm*b.nrm) >= 0.3
          |         GROUP BY 1)
          |  SELECT d.*, (d.doc_id % 5 = 2) AS has_video""".stripMargin +
        reasonCol(5, 2, Multimodal.CorruptVidRem,
          "GVID: bad magic (want GVID)", "vid_reason") +
        s"""
          |  FROM s2a d LEFT JOIN vrem r ON r.vec_id = d.doc_id
          |  WHERE d.doc_id % 5 <> 2${divertKeep(Multimodal.CorruptVidRem)
          } OR r.dup_of IS NULL)""".stripMargin
    val s3base =
      if (withVideo) "s2v" else if (withAudio) "s2a"
      else if (withImages) "s2i" else "s2"
    val s3img = (if (withImages) ", d2.has_image" else "") +
      (if (withAudio) ", d2.has_audio" else "") +
      (if (withVideo) ", d2.has_video" else "") +
      (if (poisoned) ", d2.img_reason, d2.aud_reason, d2.vid_reason" else "")
    val s3 =
      "s3 AS MATERIALIZED (\n" + Winnow.selCteOver(s3base) +
        Winnow.alldCteOver(s3base) +
        Winnow.SpanApplyCtes +
        s"""
          |SELECT a.doc_id,
          |  coalesce(c.ct, CASE WHEN st.n_spans IS NULL THEN a.tx ELSE '' END) AS text,
          |  d2.lang, d2.source, d2.n_bp_dropped$s3img,
          |  coalesce(st.n_spans, 0) AS n_spans,
          |  coalesce(st.n_removed, 0) AS n_chars_removed
          |FROM alld a JOIN $s3base d2 USING (doc_id)
          |LEFT JOIN stats st USING (doc_id)
          |LEFT JOIN cleaned c USING (doc_id))""".stripMargin
    val s4 =
      "s4 AS MATERIALIZED (\n  WITH " + Dedup.decontamApplyCtes("s3", "documents") +
        "\nSELECT d.*, c.n_sh, c.n_hit\nFROM s3 d JOIN c USING (doc_id)\n" +
        "WHERE " + Dedup.DecontamKeepWhere + ")"
    val s5 =
      "s5 AS MATERIALIZED (\n" + TextAnalysis.bigramLmCteOver("s4") +
        TextAnalysis.LmFilterCtes +
        "\nSELECT d.*, s.avg_mn\n" +
        "FROM s4 d JOIN scored s USING (doc_id) CROSS JOIN cut c\n" +
        "WHERE s.avg_mn >= c.cut)"
    val s6 =
      "s6 AS MATERIALIZED (\n" + Dedup.clustersCteOver("s5") +
        Dedup.groupSplitGrpCte("s5") +
        "\nSELECT d.*, g.group_id\nFROM s5 d JOIN grp g USING (doc_id)\n" +
        s"WHERE ${Dedup.GroupSplitCase} = 'train')"
    val finImg = (if (withImages) "has_image, " else "") +
      (if (withAudio) "has_audio, " else "") +
      (if (withVideo) "has_video, " else "") +
      (if (poisoned)
        "img_reason, aud_reason, vid_reason, n_quarantined, " else "")
    val finQuar = if (!poisoned) "" else
      ",\n  CAST((CASE WHEN img_reason IS NOT NULL THEN 1 ELSE 0 END)\n" +
        "     + (CASE WHEN aud_reason IS NOT NULL THEN 1 ELSE 0 END)\n" +
        "     + (CASE WHEN vid_reason IS NOT NULL THEN 1 ELSE 0 END)\n" +
        "    AS INT) AS n_quarantined"
    val fin =
      s"SELECT doc_id, lang, source, n_bp_dropped, $finImg" +
        "n_spans, n_chars_removed,\n" +
        "  n_sh, n_hit,\n" +
        "  avg_mn, group_id, weight,\n" +
        "  unnest(generate_series(1, weight)) AS epoch\n" +
        s"FROM (SELECT *, ${TextAnalysis.SourceWeightSql} AS weight$finQuar" +
        " FROM s6) x\n" +
        "ORDER BY doc_id, epoch"
    val stages =
      if (withVideo) Seq(s0, s0m, s1, s2, s2i, s2a, s2v, s3, s4, s5, s6)
      else if (withAudio) Seq(s0, s0m, s1, s2, s2i, s2a, s3, s4, s5, s6)
      else if (withImages) Seq(s0, s0m, s1, s2, s2i, s3, s4, s5, s6)
      else Seq(s0, s0m, s1, s2, s3, s4, s5, s6)
    stages.mkString("WITH ", ",\n", "\n") + fin
  }

  /** The q131 capstone in the PRODUCTION scale regime — the ScaleBench
    * knob curve's entry ([[Clustering.semdedupKnob]]'s device at the
    * capstone layer): the SAME chain body as q131, with each modal
    * prune served from hash cells ∝ corpus (cell size bounded) over
    * the same decoded features, instead of the fixed-K persisted
    * index. The fixed-K form stays the oracle-gated query (its Lloyd
    * constants are baked into the DuckDB oracle); this form is what a
    * 100-TB deployment runs, and the curve proves the composed modal
    * marginal cost stays sublinear as the corpus grows.
    */
  private[graft] def quadmodalKnob(s: SparkSession, dir: String,
      cells: Int): DataFrame =
    chain(s, dir, withImages = true, withAudio = true, withVideo = true,
      modalCells = Some(cells))

  private def oracle: String = oracleFor(withImages = false)
  private def oracle123: String = oracleFor(withImages = true)
  private def oracle128: String =
    oracleFor(withImages = true, withAudio = true)
  private def oracle131: String =
    oracleFor(withImages = true, withAudio = true, withVideo = true)
  private def oracle137: String =
    oracleFor(withImages = true, withAudio = true, withVideo = true,
      poisoned = true)

  /* ------------------------------------------------------------------ *
   * q118 — the CONTINUOUS curation loop, oracle-gated: q112's proof
   * structure (build → probe → append → probe) applied to the full
   * per-doc verdict stack [[graft.streaming.CurationSink]] runs per
   * micro-batch. Phase = the sink's EXACT code
   * ([[CurationSink.verdictBatch]] — one function shared with the
   * stream, so certifying this loop certifies the sink): splice spans
   * owned by history ∪ earlier-in-batch docs (FpIndex probe), shingle
   * the SPLICED text against the stationary benchmark BloomIndex,
   * score it against the FROZEN generation LM (trained on history
   * once, add-1 for unseen bigrams), then append ALL batch
   * fingerprints so phase 2 splices against phase 1 (presence
   * ownership is corpus-wide, whatever the verdicts). The DuckDB
   * oracle recomputes every phase monolithically — frozen model +
   * cutoff from the history slice, phase-2 history = bucket < 230
   * exactly because phase 1 was appended — so the hash gates the
   * artifact freeze (model, cutoff, benchmark), the growing-history
   * splice, and the verdict booleans in one value. All stage CTEs are
   * the standalone queries' shared texts ([[Winnow.probeSpanCtes]]/
   * [[Winnow.spliceTailCtes]]/[[Dedup.benchShingleCtes]]/
   * [[Dedup.corpusShingleCtes]]/[[TextAnalysis.lmModelCtes]]/
   * [[TextAnalysis.lmScoreCtes]]) — the q115 drift discipline.
   * ------------------------------------------------------------------ */

  import graft.streaming.CurationSink

  private def q118(s: SparkSession, dir: String): DataFrame = {
    // pid-suffixed scratch fingerprint index (q112's discipline); the
    // production FpIndex and the benchmark BloomIndex are read-only
    val IndexLayout.Scratch(name, path, slice) = IndexLayout.scratch(
      FpIndex.Layout.tableNameFor(dir), "_cmaint",
      Tables(s, dir, "documents"))
    val hist = slice(0, 200)
    FpIndex.buildIndex(s, hist, name, path)
    // the frozen generation artifacts: bigram LM + exact 20th-percentile
    // cutoff, trained on history ONCE (the sink's artifactsOf verbatim)
    // pin the SMALL verdict result eagerly; the scope then releases the
    // model-sized artifact frames (bigram count table ∝ corpus vocab)
    // and the phase pins — the sink itself keeps its artifacts pinned
    // for its LIFETIME by design, but a query run must not
    Pin.scope {
      val art = CurationSink.artifactsOf(hist)
      val (v1, bfp1) = CurationSink.verdictBatch(s, slice(200, 230),
        name, dir, art)
      // eagerly pinned BEFORE the append mutates the scratch table
      val p1 = Pin(v1.withColumn("batch_no", lit(1)), "q118:phase1")
      // the probe already winnowed batch 1 — append its pinned rows
      FpIndex.appendRows(s, name, bfp1)
      val (v2, _) = CurationSink.verdictBatch(s, slice(230, 250),
        name, dir, art)
      Pin(p1.unionByName(v2.withColumn("batch_no", lit(2)))
        .select("batch_no", "doc_id", "n_spans", "n_chars_removed", "n_sh",
          "n_hit", "n_bigrams", "lm_micro_nats", "avg_mn", "contaminated",
          "kept", "clean_text")
        .orderBy("batch_no", "doc_id"), "q118:verdicts")
    }
  }

  /** One oracle phase: probe-hit islands → spans → splice → shingle
    * verdict vs `ev` → frozen-LM score vs hc12/hc1/hv → verdict row.
    */
  private def phase118(n: Int, histMax: Int, lo: Int, hi: Int): String =
    Winnow.probeSpanCtes(n, histMax, lo, hi) + ",\n" +
      s"""bdoc$n AS (SELECT d.doc_id, d.lang, trim(d.text) AS tx,
         |            len(trim(d.text)) AS n
         |          FROM documents d JOIN bk k USING (doc_id)
         |          WHERE k.bucket >= $lo AND k.bucket < $hi)""".stripMargin +
      Winnow.spliceTailCtes(s"sp$n", s"bdoc$n", s"_$n") + ",\n" +
      s"""cln$n AS (SELECT b.doc_id, b.lang,
         |            coalesce(st.n_spans, 0) AS n_spans,
         |            coalesce(st.n_removed, 0) AS n_chars_removed,
         |            coalesce(cl.ct,
         |              CASE WHEN st.n_spans IS NULL THEN b.tx ELSE '' END) AS text
         |          FROM bdoc$n b LEFT JOIN stats_$n st USING (doc_id)
         |                        LEFT JOIN cleaned_$n cl USING (doc_id)),
         |""".stripMargin +
      Dedup.corpusShingleCtes(s"cln$n", s"_$n") + ",\n" +
      TextAnalysis.lmScoreCtes(s"cln$n", s"_$n") + ",\n" +
      s"""vd$n AS (SELECT $n AS batch_no, c.doc_id, c.n_spans,
         |           c.n_chars_removed, d.n_sh, d.n_hit, p.n_bigrams,
         |           p.lm_micro_nats,
         |           p.lm_micro_nats // p.n_bigrams AS avg_mn,
         |           (d.n_sh > 0 AND
         |            CAST(d.n_hit AS DOUBLE) / CAST(d.n_sh AS DOUBLE) >= 0.2)
         |             AS contaminated,
         |           (NOT (d.n_sh > 0 AND
         |                 CAST(d.n_hit AS DOUBLE) / CAST(d.n_sh AS DOUBLE) >= 0.2)
         |            AND coalesce(p.n_bigrams, 0) > 0
         |            AND p.lm_micro_nats // p.n_bigrams >= hc.cut) AS kept,
         |           c.text AS clean_text
         |         FROM cln$n c JOIN c_$n d USING (doc_id)
         |                      LEFT JOIN pd_$n p USING (doc_id)
         |                      CROSS JOIN hcut hc)""".stripMargin

  private def oracle118: String =
    Winnow.selCteOver("documents") + Winnow.BucketedSelCtes + ",\n" +
      """hist AS (SELECT d.doc_id, d.text FROM documents d
        |         JOIN bk k USING (doc_id) WHERE k.bucket < 200),
        |""".stripMargin +
      Dedup.benchShingleCtes("documents") + ",\n" +
      TextAnalysis.lmModelCtes("hist") + ",\n" +
      TextAnalysis.lmScoreCtes("hist", "_h") + ",\n" +
      """hcut AS (SELECT CAST(quantile_disc(lm_micro_nats // n_bigrams, 0.2)
        |           AS BIGINT) AS cut
        |         FROM pd_h WHERE n_bigrams > 0),
        |""".stripMargin +
      phase118(1, 200, 200, 230) + ",\n" + phase118(2, 230, 230, 250) +
      """
        |SELECT * FROM vd1 UNION ALL SELECT * FROM vd2
        |ORDER BY batch_no, doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q115_full_curation",
      (s, dir) => chain(s, dir, withImages = false), Some(oracle)),
    /* q123 — the MULTIMODAL capstone: the same corpus curated as a
     * mixed text+image collection. Every third doc carries an image
     * attachment (q121's minting — the attachment payload is the PPM
     * render of the doc, vec_id ≡ doc_id), and the chain dedups BOTH
     * modalities before mixing: the text stages are q115's verbatim
     * (one shared `chain` body — they cannot drift), and stage s2i
     * prunes docs whose attachment near-duplicates an earlier-indexed
     * image, served from the PERSISTED image ClusterIndex
     * ([[ClusterIndex.Image]] — built once per corpus
     * generation, read here; MultimodalCurationSpec pins both indexes
     * read-never-rebuilt and the exchange-free within-cell join).
     * This is the Abbas et al. 2023 §4 SemDeDup placement inside a
     * full curation run: interleaved documents with image attachments,
     * attachment-level keep-decisions joining back to doc-level
     * verdicts, LAION-style corpus-wide image dedup (an attachment
     * matching ANY indexed image is pruned — including benchmark-slice
     * images, which is eval-leakage decontamination through the second
     * modality). The oracle chains q115's stage CTEs with the q121
     * image CTE generators — both estates' shared-constant drift
     * discipline in one hash.
     */
    QueryDef("q123_multimodal_curation",
      (s, dir) => chain(s, dir, withImages = true), Some(oracle123)),
    /* q128 — the TRIMODAL capstone: q123's chain plus stage s2a, the
     * audio-attachment dedup. Every doc with doc_id % 4 = 1 carries an
     * audio attachment (q126's minting — the clip is the WAV render of
     * the doc, vec_id ≡ doc_id); the moduli overlap the image rule, so
     * some docs carry BOTH attachments — the interleaved shape real
     * multimodal pretraining corpora have — and a doc survives only if
     * EVERY modality it carries survives: text chain ∧ image prune ∧
     * audio prune. s2a serves the PERSISTED audio ClusterIndex
     * ([[ClusterIndex.Audio]] — built once per corpus
     * generation, read here), verdicts corpus-generation-wide like
     * s2i's (benchmark-slice clips included — eval-leakage
     * decontamination through the third modality). The oracle chains
     * q115's stage CTEs with BOTH modalities' CTE generators (image at
     * dims=24, audio at dims=8) — three estates' shared-constant drift
     * discipline under ONE hash. MultimodalCurationSpec pins all FOUR
     * persisted indexes (text FpIndex, benchmark BloomIndex, image +
     * audio ClusterIndex) read-never-rebuilt and the attachment rules.
     */
    QueryDef("q128_trimodal_curation",
      (s, dir) => chain(s, dir, withImages = true, withAudio = true),
      Some(oracle128)),
    /* q131 — the QUADMODAL capstone: q128's chain plus stage s2v, the
     * video-attachment dedup (docs with doc_id % 5 = 2 carry a GVID
     * clip; the three attachment moduli pairwise overlap). Every
     * modality the engine supports — text, image, audio, video — now
     * flows through ONE composed run, each non-text modality pruned
     * from its own persisted ClusterIndex (read, never rebuilt), each
     * verdict corpus-generation-wide (benchmark-slice attachments
     * decontaminate through every modality). The oracle chains all
     * four estates' CTE generators (text stages + dims 24/8/12)
     * under one hash.
     */
    QueryDef("q131_quadmodal_curation",
      (s, dir) => chain(s, dir, withImages = true, withAudio = true,
        withVideo = true),
      Some(oracle131)),
    /* q137 — the POISONED quadmodal capstone: q131's full batch
     * backfill over a corpus whose attachments arrive deliberately
     * corrupted ([[Multimodal.mintWide]]'s per-modality poison rule —
     * the shape a real 100-TB scraped-media backfill has). The
     * q135→q136 trajectory completed: the quarantining decode leg
     * ([[graft.functions.MediaCodecs.quarantining]]) sits in front of
     * ALL THREE modal prune stages, each modality's cells are learned
     * in-query over its HEALTHY attachments only (q136's oracle device
     * per modality — a leaked quarantined row would shift the learned
     * geometry and flip the hash), quarantined attachments DIVERT with
     * the decoders' own reason strings (per attachment: the doc keeps
     * flowing with its healthy modalities, the job never dies), and
     * the final rows carry the quarantine evidence (three reason
     * columns + n_quarantined) through the entire verdict stack. One
     * hash gates the poison rule, the Either seam, the healthy-only
     * learning boundary at dims 24/8/12, the divert-not-veto keep
     * algebra, and every text stage downstream of the pruned corpus.
     * PoisonedCurationSpec pins job survival on harder corruption
     * classes and the healthy-twin equivalence.
     */
    QueryDef("q137_poisoned_curation",
      (s, dir) => chain(s, dir, withImages = true, withAudio = true,
        withVideo = true, poisoned = true),
      Some(oracle137)),
    QueryDef("q118_curation_maintenance", (s, dir) => q118(s, dir),
      Some(oracle118)))
}
