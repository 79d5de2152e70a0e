package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.Pin
import graft.operators.{BloomIndex, Dedup, FpIndex, TextAnalysis, Winnow}

/** The curation capstone as a CONTINUOUS pipeline — q115's per-document
  * cleaning stages running per micro-batch (streaming surface 16): for
  * each arriving (doc_id, text), splice out char-level spans already
  * owned by history (the q108 apply against the persisted
  * [[FpIndex]]), decontaminate the SPLICED text against the stationary
  * benchmark [[BloomIndex]] (q105's containment rule), and gate on the
  * FROZEN generation LM (q111's rule with the model and cutoff trained
  * once on the history corpus — the frozen-centroids discipline at the
  * language-model layer), emitting one verdict row per doc with every
  * stage's evidence columns, then appending the batch's fingerprints so
  * later batches splice against this one as history.
  *
  * Stage scope, stated precisely: the sink runs the three stages whose
  * verdicts are PER-DOC decidable against generation artifacts (span
  * splice, decontam, LM gate — q115's s3/s4/s5). The corpus-level
  * stages have their own dedicated surfaces: exact/near-dup admission
  * is [[IngestDedupSink]] (band index) and the char layer's presence
  * ownership is exactly the fingerprint append here; leakage-safe
  * split and source mixing are epoch-time corpus operations (q103/q57)
  * a deployment runs over the ACCUMULATED admitted log, not per batch;
  * and MARKUP EXTRACTION (q115's s0m) is [[BoilerplateSink]], the
  * stateless first gate of the ingest quartet — it rewrites text, so
  * it must run BEFORE any fingerprint-producing stage, which is
  * exactly why it is its own upstream surface rather than a
  * verdictBatch step (this sink's splice/append and the production
  * FpIndex must see ONE text form). Chaining BoilerplateSink →
  * IngestDedupSink → this sink reproduces q115's full stage order
  * continuously.
  *
  * Frozen artifacts ([[Artifacts]]): the add-1-smoothed bigram model
  * ([[TextAnalysis.lmModelOf]]) and q111's exact 20th-percentile
  * micro-nat cutoff, both computed ONCE from the generation corpus and
  * pinned. Scoring a batch against the frozen model takes the add-1
  * path for unseen bigrams (ln((0+1)/(c1+v)) with c1 = 0) — the
  * in-corpus form q73/q111 gate stays byte-identical (every in-corpus
  * bigram hits the model), and the spec pins the unseen-bigram score
  * against an independent driver-side computation.
  *
  * Exactly-once is [[WinnowIndexSink]]'s seam verbatim (the ONE index
  * mutation is the same fingerprint append): the splice probe excludes
  * the batch's own ids from history, the decontam/LM stages are pure
  * functions of (artifacts, spliced batch), and the verdict log commits
  * through [[VersionedPointer]].
  */
object CurationSink {

  /** Decontamination containment threshold (q105's rule). */
  val Theta = 0.2

  /** The frozen generation artifacts: bigram LM + quality cutoff. */
  case class Artifacts(lm: TextAnalysis.LmModel, cutoffMicroNats: Long)

  /** Train the artifacts on the generation corpus (doc_id, text) and
    * PIN them — one LM aggregation pass + one exact percentile, paid
    * once per generation, never per batch.
    */
  def artifactsOf(history: DataFrame): Artifacts = {
    // lmModelWords pins the tokenized history ONCE; model counts, the
    // vocab, and the cutoff's scoring pass all read that pin instead of
    // re-tokenizing the history corpus per branch (pre-round-16: four
    // regex passes). c12 arrives pinned from lmModelWords; c1/vocab are
    // pinned here because the sink holds them for its lifetime.
    val (w, m0) = TextAnalysis.lmModelWords(history)
    val lm = TextAnalysis.LmModel(m0.c12,
      Pin(m0.c1, "CurationSink.lm.c1"), Pin(m0.vocab, "CurationSink.lm.vocab"))
    val cut = TextAnalysis.lmScoreWordsAgainst(w, lm)
      .filter(col("n_bigrams") > 0)
      .withColumn("avg_mn", expr("lm_micro_nats div n_bigrams"))
      .agg(expr(
        "CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY avg_mn) AS BIGINT)")
        .as("cut"))
      .collect()(0).getLong(0)
    Artifacts(lm, cut)
  }

  /** The verdict log: (doc_id, n_spans, n_chars_removed, n_sh, n_hit,
    * n_bigrams, lm_micro_nats, avg_mn, contaminated, kept, clean_text,
    * batch_id).
    */
  val Log: SinkLog = SinkLog(StructType(Seq(StructField("doc_id", LongType),
    StructField("n_spans", LongType),
    StructField("n_chars_removed", LongType),
    StructField("n_sh", LongType),
    StructField("n_hit", LongType),
    StructField("n_bigrams", LongType),
    StructField("lm_micro_nats", LongType),
    StructField("avg_mn", LongType),
    StructField("contaminated", BooleanType),
    StructField("kept", BooleanType),
    StructField("clean_text", StringType),
    StructField("batch_id", LongType))))

  /** All committed verdicts up to the pointer, folded history included. */
  def verdicts(spark: SparkSession, dir: String): DataFrame =
    Log.history(spark, dir)

  /** The three per-doc stage verdicts for ONE batch of (doc_id, text)
    * — splice, decontam, frozen-LM gate — as a lazy frame, plus the
    * batch's pinned winnowed FINGERPRINT rows. This is the sink's
    * ENTIRE verdict computation, called by [[applyBatch]] per
    * micro-batch and by the oracle-gated maintenance loop
    * (q118_curation_maintenance) per phase — one function, so the
    * stream and its batch certification cannot diverge.
    *
    * The spliced frame is pinned: it is consumed by THREE downstream
    * branches (the decontam shingles, the LM scoring, and the final
    * evidence join); left lazy, Catalyst evaluated the whole splice
    * subtree — windows, span joins, text reassembly — once per branch
    * (the round-16 measurement: q118's two verdict materializations
    * were 56% of its executor time, ~2/3 of that re-splicing).
    *
    * The fingerprint rows are returned so the probe→verdict→APPEND
    * callers ([[applyBatch]], [[graft.streaming.MultimodalCurationSink]],
    * q118) can [[FpIndex.appendRows]] them instead of re-winnowing the
    * batch a second time. Both pins live until the caller's
    * [[graft.core.Pin.scope]] closes.
    */
  def verdictBatch(spark: SparkSession, docs: DataFrame,
      fpIndexName: String, benchDir: String, art: Artifacts)
      : (DataFrame, DataFrame) = {
    // s3: char-span splice vs history + earlier batch docs (the
    // WinnowIndexSink stage verbatim — probeSpans pins its small
    // result, so a subsequent append cannot perturb anything here)
    val (spans0, bfp) = FpIndex.probeSpans(spark, fpIndexName, docs,
      excludeBatchFromHistory = true)
    val spans = spans0
      .select(col("doc_id"), col("span_start").as("s"),
        col("span_end").as("e"))
    val alld = docs
      .select(col("doc_id"), trim(col("text")).as("tx"))
      .withColumn("n", length(col("tx")))
    val cleaned = Pin(Winnow.spliceClean(alld, spans), "CurationSink.splice")
    val cleanDocs = cleaned.select(col("doc_id"),
      col("clean_text").as("text"))
    // s4: decontam verdict on the SPLICED text (q115's stage order)
    // against the stationary benchmark index
    val shingled = cleanDocs
      .select(col("doc_id"),
        split(trim(col("text")), graft.core.Ws.Plus).as("t"))
      .select(col("doc_id"), Dedup.shinglesOf(col("t")).as("shs"))
    // two consumers of `shingled` (n_sh + the probe's explode) — the
    // one-pass aggregate variant was measured SLOWER (see the chain-s4
    // note in [[graft.operators.CurationPipeline]]); keep the two-pass
    // shape
    val dec = shingled.select(col("doc_id"),
        size(col("shs")).cast("long").as("n_sh"))
      .join(BloomIndex.probeHitsOf(spark, benchDir, shingled),
        Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
    // s5: LM gate on the spliced text against the FROZEN model
    val lm = TextAnalysis.lmScoreAgainst(cleanDocs, art.lm)
      .withColumn("avg_mn", expr("lm_micro_nats div n_bigrams"))
    val out = cleaned
      .join(dec, Seq("doc_id"))
      .join(lm, Seq("doc_id"), "left")
      .withColumn("contaminated", col("n_sh") > 0 &&
        col("n_hit").cast("double") / col("n_sh").cast("double") >= Theta)
      .withColumn("kept", !col("contaminated") &&
        coalesce(col("n_bigrams"), lit(0L)) > 0 &&
        col("avg_mn") >= art.cutoffMicroNats)
      .select(col("doc_id"), col("n_spans"), col("n_chars_removed"),
        col("n_sh"), col("n_hit"), col("n_bigrams"),
        col("lm_micro_nats"), col("avg_mn"),
        col("contaminated"), col("kept"), col("clean_text"))
    (out, bfp)
  }

  /** Apply one micro-batch of (doc_id, text); false iff already applied. */
  def applyBatch(batch: DataFrame, batchId: Long, fpIndexName: String,
      benchDir: String, art: Artifacts, outDir: String,
      epoch: Option[String] = None): Boolean =
    Log.serve(outDir, batchId, epoch) {
      val spark = batch.sparkSession
      val docs = batch.select("doc_id", "text")
      val (v, bfp) = verdictBatch(spark, docs, fpIndexName, benchDir, art)
      val out = Pin(v.withColumn("batch_id", lit(batchId)),
        "CurationSink.verdicts")
      // presence ownership is corpus-wide (the q108 contract): ALL batch
      // docs' fingerprints enter history, whatever their verdicts —
      // identical to WinnowIndexSink, so the two sinks cannot diverge
      // on what "history" means. The probe's pinned winnow rows are
      // appended directly (no second winnow of the batch).
      FpIndex.appendRows(spark, fpIndexName, bfp)
      Seq(out)
    }

  /** Attach to a (doc_id, text) stream. The fingerprint index must
    * exist (`FpIndex.Layout.initIndex` cold, or seeded from the generation
    * corpus); `benchDir` names the corpus whose benchmark slice the
    * [[BloomIndex]] serves; `art` is the generation's frozen LM +
    * cutoff ([[artifactsOf]]).
    */
  def attach(docs: DataFrame, fpIndexName: String, benchDir: String,
      art: Artifacts, outDir: String, checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(docs, checkpointDir) { (batch, batchId, epoch) =>
      applyBatch(batch, batchId, fpIndexName, benchDir, art, outDir, epoch)
    }
}
