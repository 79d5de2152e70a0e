package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Scale-curve harness: replicates the sf0.1 corpus ×2/×4/×8 and times the
  * most expensive queries at each factor, writing wall-time-vs-N JSON
  * (BENCH_SCALE.json). Converts "the plan reads as linear" into a
  * measurement: a hidden driver-side loop, a broadcast that should have
  * been a shuffle, or an uncapped self-join shows up as a superlinear
  * curve long before a real cluster would hit it.
  *
  * Replication is query-family-aware, because naive row duplication
  * changes the WORKLOAD, not just the volume:
  *
  *  - tagger family (q26/q27): replica texts are word-ROTATIONS of the
  *    originals — the vocabulary (and thus the corpus-derived catalog, a
  *    bounded dimension by contract) stays fixed while distinct texts and
  *    probes scale ×N. Suffixing tokens instead would scale the catalog
  *    quadratically through the fuzzy leg, measuring a scenario the
  *    pipeline contract rules out.
  *  - near-dup family (q35/q36/q37): replica tokens get a replica-unique
  *    SUFFIX — replicas are distinct in shingle space, so the corpus is N
  *    disjoint copies (100 TB of *distinct* data, the design point).
  *    Rotation here would make every replica a near-duplicate of its
  *    original and measure an N²-pair corpus instead of an N× corpus.
  *  - events (q60): ids shift per replica, timestamps keep — N× rows and
  *    N× distinct users into the same hour buckets.
  *  - bridge family (q24): only the ITEM rows (p_partkey%3==1) replicate,
  *    with partkeys shifted by a multiple of 3 so their mod-3 class (and
  *    thus the item/catalog split) is preserved — the annex catalog is a
  *    bounded dimension by contract, so probes scale ×N against a fixed
  *    catalog, which is the 100-TB shape of this join.
  *
  * Factors default to ×1/2/4/8; `SPARK_GRAFT_SCALE_FACTORS=1,2,4,8,16`
  * extends the curve (the ×16 point exists to separate measurement noise
  * from real growth when one segment looks superlinear).
  */
object ScaleBench {

  private val rotQueries = Seq("q26_scored_tagger", "q27_fuzzy_feedback",
    // boilerplate extraction: the native expression is per-row map-side
    // (the only exchange is the output sort), so the curve must track
    // the scan — rotation replicas give N× distinct markup fixtures
    "q120_boilerplate_extract",
    // the wide typed multimodal record: mint + sparse decode are both
    // per-row mapPartitions (only the output sort exchanges), so the
    // curve must track the scan; id shifts rotate the attachment
    // moduli classes but every replica keeps the same subset mix
    "q133_multimodal_records")
  // q121's fixed-K within-cell prune is deliberately NOT curved — the
  // q104/q113 adjudication verbatim: with K fixed, cell size grows with
  // the corpus and within-cell pairs are quadratic BY DESIGN (measured
  // here once: 3.9 -> 338 s, 10.9x of linear at x8 — and rotation
  // replicas share identical histograms, compounding the tie structure).
  // The production regime is cells ∝ corpus, curved by
  // q104_semdedup_knob at the prune layer; q121's image-SPECIFIC leg —
  // the per-row PPM decode + histogram pass — is curved below as
  // q121_image_features.
  private val sufQueries = Seq("q35_ngram_jaccard", "q36_minhash_lsh",
    "q37_simhash", "q39_dedup_clusters",
    // packing: the block-id prefix sum must stay flat-per-row as blocks
    // fill; leakage: N disjoint replicas → N× pairs, N× split probes
    "q58_sequence_pack", "q59_split_leakage",
    // leakage-safe split: CC labels over N× disjoint pair graphs plus
    // one doc_id-keyed join-back — curves the remediation beside the
    // q59 detection it replaces
    "q103_leakage_safe_split",
    // bigram LM: suffixed replicas share no tokens, so vocabulary AND
    // the bigram count table scale ×N with the corpus — the open-vocab
    // worst case for the train-side aggregations and count-table joins
    "q73_bigram_lm",
    // LM filter apply shares q73's open-vocab worst case; the added
    // percentile + gate run over doc-level rows (corpus-sublinear)
    "q111_lm_filter_apply",
    // segment dedup: suffixed replicas share no segments, so the
    // distinct-hash keep-first aggregation scales ×N (the grouped-min
    // shuffle is the cost being curved); incremental dedup: history
    // index AND batch probes both scale ×N against each other;
    // simhash pairs: replicas are signature-distinct, so the chunk
    // index scales ×N docs into the same 2^16 bucket space per chunk
    "q77_segment_dedup", "q78_incremental_dedup", "q80_simhash_pairs",
    // DSIR: suffixed replicas scale the corpus LM's bigram table AND the
    // target slice (sources survive suffixing) ×N together — the
    // open-vocab worst case for the four count-table joins, same as q73
    "q84_dsir_weight",
    // indexed decontam: the warm-up pays the one-off benchmark index
    // build per factor dir (ensure() is fingerprint-gated, the q91
    // treatment), so the timed runs measure the WARM probe — corpus
    // shingling + bloom prefilter scale ×N while the persisted bench
    // table is read, not rebuilt
    "q99_decontam_indexed",
    // winnowing: token suffixing changes char-grams too, so replicas are
    // disjoint in fingerprint space — q106's map-side select scales ×N
    // rows with no join, and q107's dup-hash groupBy + sparse-hit window
    // face N× fingerprints whose dup structure is preserved per replica
    "q106_winnow_fingerprints", "q107_dup_spans",
    // span-dedup apply adds the ownership groupBy and the splice
    // join-back on top of q107's shape — same disjoint-replica scaling
    "q108_span_dedup_apply",
    // the composed capstone: every stage's family curves individually
    // on these replicas (exact dedup ~ q34's shape, near-dup q36/q39,
    // char spans q106-q108, decontam q99, LM filter q73/q111,
    // split q103, mix/pack q57/q58) — this curve proves the
    // COMPOSITION stays sublinear: stage interactions (survivor frames
    // feeding the next stage, two persisted-index probes, the final
    // mix) add no superlinear seam. Warm-up pays the per-factor
    // FpIndex/BloomIndex builds (ensure() is fingerprint-gated, the
    // q91/q99 treatment), so timed runs measure the warm serving shape
    "q115_full_curation")
  private val evtQueries = Seq("q60_event_hourly",
    // sessionize/as-of: replication shifts user_id per replica, so N×
    // rows arrive as N× users at the SAME per-user density — the curve
    // measures whether the single user_id exchange really is the only
    // scaling cost (per-user window work is constant by construction)
    "q61_sessionize", "q62_asof_join", "q64_trailing_window",
    "q72_sliding_window")
  private val prtQueries = Seq("q24_bridge_match")
  // range join: probe rows (lineitem) scale ×N against the fixed 25-row
  // interval dimension — the 100-TB shape of a banded join; the exploded
  // bucket index must stay a broadcast at every factor.
  // top-k per group: the orderkey-shifted replicas add N× rows to the
  // SAME three returnflag groups — group count fixed, group SIZE scales,
  // the skew the map-side WindowGroupLimit must absorb.
  private val linQueries = Seq("q63_range_join", "q68_topk_salted")
  // vocab induction rides the rotation replicas: the vocabulary is FIXED
  // under word rotation, so the top-V cut and broadcast probe face N×
  // tokens against a constant dictionary — the 100-TB shape
  // tf-idf rides the same rotation replicas: the df table stays
  // vocabulary-sized (corpus-sublinear) while tf rows scale ×N — the
  // 100-TB shape where the term-statistics join side is bounded
  // heavy hitters ride the rotation replicas too: word rotation keeps
  // the vocabulary fixed, so the bigram universe stays bounded (≤ V²)
  // while token rows scale ×N — the Misra-Gries pass and candidate
  // recount face N× stream length against a bounded candidate space,
  // exactly the relative-threshold regime (φN grows with N, so the
  // heavy SET stays comparable per factor). weighted sample: rotation
  // preserves token counts ⇒ weights invariant; doc_ids shift ⇒ fresh
  // priorities; the curve measures TakeOrderedAndProject's per-partition
  // top-k over N× rows with k fixed
  // q100 adds the per-source variant: sources survive rotation, so each
  // of the bounded source strata grows ×N rows while k stays 10 — the
  // salted two-phase top-k's whole reason to exist
  private val vocQueries = Seq("q69_vocab_coverage", "q74_tfidf",
    "q96_heavy_hitters", "q97_weighted_sample", "q100_stratified_weighted",
    // BPE rides the rotation replicas too: word rotation preserves the
    // word multiset, so the weighted vocab the merge loop iterates on is
    // FIXED while the corpus-side word count faces N× tokens — the
    // claim that training cost is one corpus pass + vocab-sized
    // iterations, measured; apply adds the word-level join-back
    "q109_bpe_train", "q110_bpe_apply",
    // deep BPE: the trigram-unit vocab is near-fixed under rotation
    // (cyclic adjacency keeps all but the boundary trigrams), so the
    // 100-merge in-memory loop's cost must stay flat while the corpus
    // pass scales — the trainDeep claim as a curve
    "q122_bpe_train_deep")
  // retrieval rides the rotation replicas: the query-term set and query
  // vectors are FIXED dimensions (replica-0 ids), so BM25 faces N×
  // postings behind a vocabulary-sized df table and the semantic leg
  // streams an N× corpus past 3 broadcast query vectors — the 100-TB
  // serving shape for both legs. Embedding replicas coordinate-ROTATE
  // the vectors (orthogonal map: norms and within-replica structure
  // keep, cross-replica cosines decorrelate), so ranking work scales
  // with the corpus, not with artificial duplicate ties. q89 is NOT
  // curved: SemDeDup's scale knob is cell COUNT ∝ corpus (tau'd cell
  // size bounded), and its centroid set is a fixed in-query dimension
  // by construction — a fixed-16-cell curve would measure the
  // quadratic-in-cell-size regime the production knob exists to avoid
  // (q104/q113's fixed K=8 likewise; the q104_semdedup_knob family
  // below measures the KNOB itself: cells ∝ factor, cell size bounded).
  // q91 rides the same replicas: its per-factor warm-up pays the one-off
  // index build (ensure() is fingerprint-gated), so the timed runs
  // measure the WARM probe — which should stay near-flat across factors
  // because bucket pruning bounds the scan by the query terms' postings,
  // the whole point of the persisted index
  private val retQueries = Seq("q88_bm25_topk", "q90_hybrid_rrf",
    "q91_bm25_indexed",
    // q93: candidate generation is the only corpus-linear stage (the
    // greedy chain is candidate-bounded by construction); q94 doubles
    // the q88 shape (two scoring passes + a feedback-doc-keyed
    // expansion join)
    "q93_mmr_rerank", "q94_prf_expansion",
    // k-means rides the embedding replicas: seeds are the 8 smallest
    // vec_ids (replica 0), so K stays fixed while the corpus scales ×N
    // with decorrelated geometry — assignment is the map-side broadcast
    // fold and the update shuffle stays K·d-bounded per partition, the
    // exact claim the curve tests; q102 adds one cid-keyed window.
    // q114 is the sample-trained form: the bottom-64 priority sample
    // stays 64 rows at every factor (its membership drifts with the
    // corpus, its SIZE never), so Lloyd cost is corpus-independent and
    // the curve isolates the one corpus-linear stage (top-k sample +
    // broadcast assignment)
    "q101_kmeans_cells", "q102_cluster_balanced_sample",
    "q114_sample_kmeans")
  // upsert: snapshot AND change-set both scale ×N (key-shifted customer
  // replicas keep the mod-7/13/97 class mix) — the merge stays one
  // full-outer shuffle however large the dimension grows
  private val cusQueries = Seq("q71_upsert")
  // snapshot diff: both snapshots scale ×N (orders keys shift by a
  // multiple of lcm(10,13,17) so the added/removed/changed classes
  // survive replication) — the diff stays ONE full-outer shuffle and
  // the output stays O(churn) = a fixed fraction of N. The incremental
  // rollup rides the same replicas: churn AND the stored rollup's
  // group count both scale with the classes preserved.
  private val ordQueries = Seq("q81_snapshot_diff", "q86_incremental_rollup")
  // curation curves ride the rotation replicas: the retention curve's
  // decile aggregation and 9-row broadcast fanout face N× docs (token
  // counts are invariant under word rotation, so the thresholds stay
  // put while the scan scales); the dataset card's fingerprint
  // multiplicity table scales ×N distinct hashes — the grouped-count
  // shuffle is the cost being curved
  private val crtQueries = Seq("q82_retention_curve", "q83_dataset_card")
  // chain mode: q39 on a corpus whose near-dup graph is ONE long chain
  // with diameter ∝ N — the adversarial shape for connected components:
  // the large-star/small-star rounds must grow with log² N, not with the
  // diameter. Result key carries a _chain suffix.
  private val chnQueries = Seq("q39_dedup_clusters")
  private val chainB = 1500 // chain docs at x1; diameter scales with N
  // skew mode: the suffix-replica corpus with a corpus-wide 300-token
  // BOILERPLATE prefix on half of every replica's docs — the Zipf/
  // boilerplate shape real web corpora have. The shared prefix dominates
  // most prefixed docs' minhashes, so its band keys collect O(corpus)
  // docs at every factor: without the hot-key cap (Dedup.HotKeyCap) pair
  // generation is quadratic in N on this corpus BY CONSTRUCTION; these
  // curves prove the cap keeps the family sublinear when the data is
  // hostile, not just uniform (DedupCapSpec pins the cap-bound property
  // at the pair level). Result keys carry a _skew suffix.
  private val skwQueries =
    Seq("q36_minhash_lsh", "q39_dedup_clusters", "q56_dedup_apply")
  // zipf mode: the suffix-replica corpus with a corpus-wide HOT TERM —
  // " hash hash" appended to every doc. 'hash' is q91's query-1 term,
  // so its postings list (and its term bucket in the PostingsIndex) is
  // O(corpus)-hot at every factor: the probe's work is Ω(df(term)) BY
  // CONSTRUCTION here, so the adjudicated band for this family is
  // AT-OR-BELOW linear (no blowup past the forced output), not the
  // sublinear band uniform corpora earn — what the curve must rule out
  // is a probe that rescans the vocabulary or the whole corpus per
  // query. The doubled token also makes "hash hash" a corpus-wide hot
  // BIGRAM (≈1-2% of all bigrams at any factor), which q96's
  // Misra-Gries sketch must surface and exactly recount — the
  // skew-seeking sketch proven on data where one key IS the skew.
  // HotTermSpec pins the bound at the plan level (bucket-pruned scan,
  // candidate set ≤ MG capacity). Result keys carry the _skew suffix.
  private val zpfQueries =
    Seq("q91_bm25_indexed", "q92_postings_maintenance", "q96_heavy_hitters")

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = if (args.length > 1) args(1) else "BENCH_SCALE.json"
    val workDir = if (args.length > 2) args(2) else "/tmp/graft-scale"
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,2,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val spark = Measure.session()

    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val idSpan = docs.agg(max("doc_id")).head().getLong(0) + 1L
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$baseDir/events.parquet")
    val evSpan = events.agg(max("event_id")).head().getLong(0) + 1L
    val userSpan = events.agg(max("user_id")).head().getLong(0) + 1L

    // replica k of the tagger corpus: rotate words by k (mod word count) —
    // same vocabulary, new distinct texts/probes, same lengths
    def rotReplica(k: Int): DataFrame =
      if (k == 0) docs
      else {
        val kk = s"($k % size(split(text, ' ')))"
        docs.select(
          (col("doc_id") + lit(k * idSpan)).as("doc_id"),
          expr(s"""concat_ws(' ', flatten(array(
                  |  slice(split(text, ' '), $kk + 1, size(split(text, ' ')) - $kk),
                  |  slice(split(text, ' '), 1, $kk))))""".stripMargin).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }

    // replica k of the near-dup corpus: suffix every token with xk —
    // replicas share no shingles with any other replica
    def sufReplica(k: Int): DataFrame =
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + lit(k * idSpan)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1x$k").as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")

    // replica k of the SKEWED corpus: the suffix replica plus the shared
    // (UN-suffixed — corpus-wide) boilerplate prefix on even doc_ids
    val boiler = (1 to 300).map(i => s"bplate$i").mkString(" ")
    def skwReplica(k: Int): DataFrame =
      sufReplica(k)
        .withColumn("text",
          when(col("doc_id") % 2 === 0,
            concat(lit(boiler), lit(" "), col("text")))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))

    // replica k of the ZIPF corpus: the suffix replica plus the
    // corpus-wide hot term (doubled: a hot postings list for q91/q92
    // AND a hot bigram for q96) on every doc
    def zpfReplica(k: Int): DataFrame =
      sufReplica(k)
        .withColumn("text", concat(col("text"), lit(" hash hash")))
        .withColumn("n_chars", length(col("text")).cast("long"))

    def evtReplica(k: Int): DataFrame =
      if (k == 0) events
      else events
        .withColumn("event_id", col("event_id") + lit(k * evSpan))
        .withColumn("user_id", col("user_id") + lit(k * userSpan))

    val part = spark.read.parquet(s"$baseDir/part.parquet")
    // shift by a multiple of 3 so p_partkey%3 (the item/catalog split in
    // q24's construction) survives replication
    val partSpan3 = {
      val mx = part.agg(max(col("p_partkey").cast("long"))).head().getLong(0)
      (mx / 3 + 1) * 3
    }
    // replica k of the bridge probes: ITEM rows only, catalog stays the
    // replica-0 one (fixed dimension, scaled probe side)
    def partReplica(k: Int): DataFrame =
      if (k == 0) part
      else part.filter(col("p_partkey") % 3 === 1)
        .withColumn("p_partkey", col("p_partkey") + lit(k * partSpan3))

    val orders = spark.read.parquet(s"$baseDir/orders.parquet")
    // shift by a multiple of lcm(10,13,17)=2210 so q81's snapshot-
    // membership (mod 10) and mutation (mod 13/17) classes survive
    val ordSpan = {
      val m = 2210L
      val mx = orders.agg(max(col("o_orderkey").cast("long"))).head().getLong(0)
      (mx / m + 1L) * m
    }
    def ordReplica(k: Int): DataFrame =
      if (k == 0) orders
      else orders.withColumn("o_orderkey", col("o_orderkey") + lit(k * ordSpan))

    val customer = spark.read.parquet(s"$baseDir/customer.parquet")
    // shift by a multiple of 7*13*97 so q71's update/tombstone/insert
    // classes (mod 7, 13, 97) survive replication untouched
    val custSpan = {
      val m = 7L * 13L * 97L
      val mx = customer.agg(max(col("c_custkey").cast("long"))).head().getLong(0)
      (mx / m + 1L) * m
    }
    def cusReplica(k: Int): DataFrame =
      if (k == 0) customer
      else customer.withColumn("c_custkey", col("c_custkey") + lit(k * custSpan))

    val embeddings = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val embSpan = embeddings.agg(max("vec_id")).head().getLong(0) + 1L
    // replica k of the embedding corpus: ids shift; coordinates rotate by
    // k mod 64 — an orthogonal transform, so each replica's internal
    // geometry is exactly replica 0's while cross-replica cosines are
    // decorrelated (no N² near-dup tie structure is injected)
    def embReplica(k: Int): DataFrame =
      if (k == 0) embeddings
      else {
        val kk = k % 64
        embeddings.select(
          (col("vec_id") + lit(k * embSpan)).as("vec_id"),
          expr(s"concat(slice(embedding, ${kk + 1}, ${64 - kk}), " +
            s"slice(embedding, 1, $kk))").as("embedding"),
          col("label"))
      }

    // replica k of the DENSE embedding corpus: every vector pulled to
    // ONE dominant direction (v' = 0.9·e1 + 0.1·v) — the whole corpus
    // is a single natural cluster and essentially EVERY within-cell
    // pair clears the 0.3 cosine prune threshold. The adversarial
    // shape for SemDeDup (the clustering analog of the hot-term
    // corpus): output is forced Ω(corpus) by construction, so the
    // adjudicated band is at-or-below linear; what the curve must rule
    // out is pair work beyond the forced output — hash cells keep cell
    // SIZE bounded however degenerate the geometry is.
    def dnsReplica(k: Int): DataFrame =
      embReplica(k).select(
        col("vec_id"),
        expr("""transform(embedding,
                | (x, i) -> CAST(0.9 * (CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END)
                |   + 0.1 * x AS FLOAT))""".stripMargin).as("embedding"),
        col("label"))

    val lineitem = spark.read.parquet(s"$baseDir/lineitem.parquet")
    val orderSpan = lineitem.agg(max("l_orderkey")).head().getLong(0) + 1L
    // replica k of the range-join probe side: orderkeys shift (distinct
    // rows), prices keep — N× probes into the same fixed interval bands
    def linReplica(k: Int): DataFrame =
      if (k == 0) lineitem
      else lineitem.withColumn("l_orderkey", col("l_orderkey") + lit(k * orderSpan))

    // each dataset gates on its OWN completed write (_SUCCESS is the
    // commit marker): an interrupted earlier run leaves a partial dir
    // that must regenerate, and must not block the OTHER datasets'
    // generation by being checked collectively
    def writeIfAbsent(mk: => DataFrame, path: String): Unit =
      if (!Files.exists(Paths.get(s"$path/_SUCCESS")))
        mk.write.mode("overwrite").parquet(path)

    // sliding-window chain corpus: doc j = tokens t_j .. t_{j+9}, so
    // consecutive docs share 9 of 10 tokens (7 of 8 trigram shingles) and
    // the whole corpus is one near-dup component of diameter ~n*B — NOT a
    // replication of the base corpus; volume and diameter scale together,
    // which is the point of the adversarial mode
    def chnDocs(n: Int): DataFrame =
      spark.range(n.toLong * chainB).select(
        col("id").as("doc_id"),
        expr("concat_ws(' ', transform(sequence(id, id + 9), i -> concat('t', i)))")
          .as("text"),
        lit("en").as("lang"), lit("chain").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))

    // SPARK_GRAFT_SCALE_ONLY=key1,key2 limits both the TIMED set and
    // the replica GENERATION below to those result keys — a deep
    // single-family anchor (x32) must not pay the full x32 estate of
    // every other family's replica dirs
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)

    def gen(n: Int): (String, String, String, String, String, String) = {
      val rotDir = s"$workDir/x$n-rot"
      val sufDir = s"$workDir/x$n-suf"
      val chnDir = s"$workDir/x$n-chn"
      val skwDir = s"$workDir/x$n-skw"
      val zpfDir = s"$workDir/x$n-zpf"
      val dnsDir = s"$workDir/x$n-dns"
      // which result keys read which replica dir (the loop's wiring)
      def need(keys: Seq[String]): Boolean =
        only.forall(o => keys.exists(o.contains))
      val rotKeys = rotQueries ++ evtQueries ++ prtQueries ++ linQueries ++
        vocQueries ++ retQueries ++ cusQueries ++ ordQueries ++ crtQueries ++
        Seq("q104_semdedup_knob", "q117_ann_knob", "q121_image_features",
          "q126_audio_features", "q129_video_features", "q115_lake_write",
          "q115_lake_resume")
      if (need(rotKeys)) {
        writeIfAbsent((0 until n).map(rotReplica).reduce(_ unionByName _),
          s"$rotDir/documents.parquet")
        writeIfAbsent((0 until n).map(evtReplica).reduce(_ unionByName _),
          s"$rotDir/events.parquet")
        writeIfAbsent((0 until n).map(partReplica).reduce(_ unionByName _),
          s"$rotDir/part.parquet")
        writeIfAbsent((0 until n).map(linReplica).reduce(_ unionByName _),
          s"$rotDir/lineitem.parquet")
        // fixed dimension for the range join (25 interval seeds)
        writeIfAbsent(spark.read.parquet(s"$baseDir/nation.parquet"),
          s"$rotDir/nation.parquet")
        writeIfAbsent((0 until n).map(cusReplica).reduce(_ unionByName _),
          s"$rotDir/customer.parquet")
        writeIfAbsent((0 until n).map(ordReplica).reduce(_ unionByName _),
          s"$rotDir/orders.parquet")
        writeIfAbsent((0 until n).map(embReplica).reduce(_ unionByName _),
          s"$rotDir/embeddings.parquet")
      }
      if (need(sufQueries ++ Seq("q131_quadmodal_knob")))
        writeIfAbsent((0 until n).map(sufReplica).reduce(_ unionByName _),
          s"$sufDir/documents.parquet")
      if (need(chnQueries.map(_ + "_chain")))
        writeIfAbsent(chnDocs(n), s"$chnDir/documents.parquet")
      if (need(skwQueries.map(_ + "_skew")))
        writeIfAbsent((0 until n).map(skwReplica).reduce(_ unionByName _),
          s"$skwDir/documents.parquet")
      if (need(zpfQueries.map(_ + "_skew")))
        writeIfAbsent((0 until n).map(zpfReplica).reduce(_ unionByName _),
          s"$zpfDir/documents.parquet")
      if (need(Seq("q104_semdedup_knob_skew")))
        writeIfAbsent((0 until n).map(dnsReplica).reduce(_ unionByName _),
          s"$dnsDir/embeddings.parquet")
      (rotDir, sufDir, chnDir, skwDir, zpfDir, dnsDir)
    }

    // every point is Bench's statistic, the median of Measure.timed: a
    // min-of-2 first cut produced non-monotonic curves (single GC/JIT
    // outliers at one factor masked the shape), and the curve SHAPE
    // across factors is the whole point of this harness.
    // SPARK_GRAFT_SCALE_ONLY=key1,key2 limits the run to those result
    // keys (chain mode's key is q39_dedup_clusters_chain) — for
    // adding one family's curve without re-timing the whole set
    // (`only` is defined above gen(): it also gates replica generation)
    val results = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    factors.foreach { n =>
      val (rotDir, sufDir, chnDir, skwDir, zpfDir, dnsDir) = gen(n)
      (rotQueries.map(q => (q, q, rotDir)) ++
        evtQueries.map(q => (q, q, rotDir)) ++
        prtQueries.map(q => (q, q, rotDir)) ++
        linQueries.map(q => (q, q, rotDir)) ++
        vocQueries.map(q => (q, q, rotDir)) ++
        retQueries.map(q => (q, q, rotDir)) ++
        cusQueries.map(q => (q, q, rotDir)) ++
        ordQueries.map(q => (q, q, rotDir)) ++
        crtQueries.map(q => (q, q, rotDir)) ++
        sufQueries.map(q => (q, q, sufDir)) ++
        // the SemDeDup cell-count KNOB curve: cells = 8·factor over the
        // ×factor embedding corpus, cell size bounded — within-cell
        // pairs grow ∝ N, the production regime q89/q104's fixed-cell
        // benches deliberately do NOT measure (their fixed K makes the
        // pair join quadratic by design; the knob is why that is fine)
        Seq(("q104_semdedup_knob", "__knob__", rotDir)) ++
        // the ANN-serving knob curve: q117's exact probe shape over
        // hash cells = 8·factor on the ×factor embedding corpus —
        // cell size bounded, so candidate + rerank cost must stay
        // bounded per query as the corpus grows (q117's fixed-K bench
        // measures the warm persisted probe; this measures the KNOB).
        // The maintenance loops (q112/q116/q118) are deliberately NOT
        // curved — their cost is the proof (the q87/q92 adjudication);
        // their production serving paths are the curves above
        // (q78/q91/q107-warm/q99/q111, and this one)
        Seq(("q117_ann_knob", "__annknob__", rotDir)) ++
        // the image feature-extraction leg (q121's corpus-linear stage):
        // one mapPartitions PPM decode + 24-bin histogram per doc
        Seq(("q121_image_features", "__imgfeat__", rotDir)) ++
        // the audio feature-extraction leg (q126's corpus-linear stage):
        // one mapPartitions WAV chunk-walk + 8-frame envelope per doc
        Seq(("q126_audio_features", "__audfeat__", rotDir)) ++
        // the video feature-extraction leg (q129's corpus-linear stage):
        // one mapPartitions GVID frame walk, stride-2 sampled decode
        Seq(("q129_video_features", "__vidfeat__", rotDir)) ++
        chnQueries.map(q => (s"${q}_chain", q, chnDir)) ++
        skwQueries.map(q => (s"${q}_skew", q, skwDir)) ++
        zpfQueries.map(q => (s"${q}_skew", q, zpfDir)) ++
        // the SemDeDup knob on the DEGENERATE one-cluster corpus: all
        // points in one natural cluster, essentially every within-cell
        // pair clears the prune threshold — hash cells ∝ factor must
        // keep pair work at the forced-output bound (the hot-term
        // discipline at the clustering layer; DenseRegionSpec pins the
        // learned-cell half of the same claim)
        Seq(("q104_semdedup_knob_skew", "__knobdns__", dnsDir)) ++
        // the CAPSTONE knob curve: q131's full chain body with each
        // modal prune served from hash cells = 8·factor over the same
        // decoded features (the production cells-∝-corpus regime; the
        // fixed-K persisted form stays the oracle-gated query). The
        // warm-up pays the per-factor FpIndex/BloomIndex builds, so
        // timed runs measure the warm composed serving shape — the
        // direct measurement that the modal marginal cost stays
        // sublinear as the corpus grows
        Seq(("q131_quadmodal_knob", "__quadknob__", sufDir)) ++
        // q115 in LAKE MODE: the stage-snapshot write overhead (every
        // run starts from a cleared stage root — in-engine cost + 7
        // parquet snapshot writes) and the RESUME discount (every
        // stage served from its snapshot). Together they quantify what
        // the restartability costs per factor and what a rerun saves.
        Seq(("q115_lake_write", "__lakewrite__", rotDir),
          ("q115_lake_resume", "__lakeresume__", rotDir)) ++
        // the SINK-HISTORY FOLD pair (q141's maintenance op): the
        // leveled-design claim measured directly. MINOR folds read
        // only the batches since the last fold, so their cost must
        // stay FLAT as the already-folded chain grows ∝ factor (a
        // single-base design would pay the whole history per fold —
        // quadratic lifetime cost, the shape the segments exist to
        // avoid); MAJOR folds rewrite the chain by construction, so
        // their band is at-or-near linear, the forced-output
        // adjudication (q104_skew's discipline)
        Seq(("q141_history_fold_minor", "__histfoldmin__", rotDir),
          ("q141_history_fold_major", "__histfoldmaj__", rotDir)))
        .filter { case (key, _, _) => only.forall(_.contains(key)) }
        .foreach { case (key, q, d) =>
          // the lake-mode pair sets the stage root per run through the
          // loop's prepare hook: WRITE times a run whose stage root is
          // cleared before every execution (in-engine cost + the
          // snapshot writes), RESUME times a run whose snapshots are
          // all fresh (every stage served from parquet)
          def timeLake(resume: Boolean): Double = {
            val stage = s"$workDir/x$n-lakestage"
            System.setProperty("graft.stage.dir", stage)
            try {
              val fn = SparkEntry.queries("q115_full_curation")
              // the first warm-up always starts cleared and leaves fresh
              // snapshots for the resume leg
              graft.core.Lake.deleteTree(stage)
              Measure.timed(spark, prepare = () =>
                if (!resume) graft.core.Lake.deleteTree(stage)
              )(Measure.materialize(fn(spark, d))).median
            } finally System.clearProperty("graft.stage.dir")
          }
          // the fold pair drives a synthetic decision log whose FOLDED
          // chain scales ∝ factor (2n segments covering 8n batches of
          // 64k rows) while the per-fold delta stays fixed (4 batches):
          // the minor leg times exactly the steady-state maintenance
          // call, the major leg the chain merge. Log dirs are rebuilt
          // per session (folds mutate them; replica caching would
          // carry one session's chain into the next factor's claim).
          def timeHistFold(majorLeg: Boolean): Double = {
            import graft.streaming.{SinkLog, VersionedPointer}
            val log = s"$workDir/x$n-histlog-" +
              (if (majorLeg) "maj" else "min")
            graft.core.Lake.deleteTree(log)
            val histLog = SinkLog(org.apache.spark.sql.types.StructType.fromDDL(
              "x BIGINT, y BIGINT, batch_id BIGINT"))
            var nextId = 0L
            def addBatch(): Unit = {
              histLog.serve(log, nextId, None)(Seq(spark.range(65536).select(
                  col("id").as("x"), (col("id") * lit(7)).as("y"),
                  lit(nextId).as("batch_id")).coalesce(1)))
              nextId += 1
            }
            (1 to 2 * n).foreach { _ =>
              (1 to 4).foreach(_ => addBatch())
              VersionedPointer.compactHistory(spark, log, keepLast = 0)
            }
            // the major leg folds its delta first so the timed merge
            // sees the steady-state shape: one big chain + one minor
            // (its first warm-up also collapses the chain)
            Measure.timed(spark, prepare = { () =>
              (1 to 4).foreach(_ => addBatch())
              if (majorLeg)
                VersionedPointer.compactHistory(spark, log, keepLast = 0)
            })(VersionedPointer.compactHistory(spark, log, keepLast = 0,
              major = majorLeg)).median
          }
          val s =
            if (q == "__lakewrite__") timeLake(resume = false)
            else if (q == "__lakeresume__") timeLake(resume = true)
            else if (q == "__histfoldmin__") timeHistFold(majorLeg = false)
            else if (q == "__histfoldmaj__") timeHistFold(majorLeg = true)
            else {
              val fn: (SparkSession, String) => DataFrame =
                if (q == "__knob__" || q == "__knobdns__")
                  (sp, dd) => graft.operators.Clustering.semdedupKnob(sp, dd, 8 * n)
                else if (q == "__quadknob__")
                  (sp, dd) => graft.operators.CurationPipeline.quadmodalKnob(sp, dd, 8 * n)
                else if (q == "__annknob__")
                  (sp, dd) => graft.operators.Clustering.annIndexedKnob(sp, dd, 8 * n)
                else if (q == "__imgfeat__")
                  (sp, dd) => graft.operators.Clustering.imageFeatures(sp, dd)
                else if (q == "__audfeat__")
                  (sp, dd) => graft.operators.Clustering.audioFeatures(sp, dd)
                else if (q == "__vidfeat__")
                  (sp, dd) => graft.operators.Clustering.videoFeatures(sp, dd)
                else SparkEntry.queries(q)
              Measure.timed(spark)(Measure.materialize(fn(spark, d))).median
            }
          results(key) = results.getOrElse(key, Seq.empty) :+ s
          println(f"[scale] x$n%-2d $key%-28s $s%8.2f s")
        }
    }
    val qJson = results.map { case (q, ts) =>
      val pts = factors.zip(ts).map { case (n, t) => s"\"$n\":$t" }.mkString(",")
      // slope: time(xMAX)/time(x1) relative to the MAXx linear ideal
      val rel = if (ts.head > 0 && ts.last > 0)
        (ts.last / ts.head) / (factors.last.toDouble / factors.head) else -1.0
      // growth per octave, t(2n)/t(n), keyed by 2n: the end-to-end ratio
      // above averages a knee away, this shows which doubling has it
      val octaves = factors.zip(ts).sliding(2).collect {
        case Seq((a, ta), (b, tb)) if b == 2 * a =>
          f"\"$b\":${if (ta > 0 && tb > 0) tb / ta else -1.0}%.3f"
      }.mkString(",")
      println(f"[scale] $q%-28s octaves {$octaves} x${factors.last}_vs_linear=$rel%.3f")
      s""""$q":{"sec":{$pts},"x${factors.last}_vs_linear":${f"$rel%.3f"},"octave_growth":{$octaves}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"base":"$baseDir","factors":[${factors.mkString(",")}],"host":${Measure.host(spark)},"queries":$qJson}"""
    Files.writeString(Paths.get(outJson), json + "\n")
    println(json)
    spark.stop()
  }
}
