package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.{Pin, QueryDef, Tables, Ws}

/** Sketch-accelerated EXACT operators: a probabilistic structure prunes
  * the expensive path, and a cheap exact confirm pass restores bit-exact
  * semantics — so every query here still runs under a deterministic
  * DuckDB oracle despite having a sketch in the plan. This is the
  * pattern that makes sketches safe at 100 TB: the sketch only ever
  * produces a SUPERSET (bloom: no false negatives; Misra-Gries: every
  * true heavy hitter survives), and the confirm pass — whose input the
  * sketch just shrank by orders of magnitude — filters the superset down
  * to the exact answer. Contrast q70, where the sketch IS the answer and
  * only error bounds can be pinned.
  *
  * Three members:
  *  - q95 (and q53, one body): bloom-prefiltered benchmark
  *    decontamination. At 100 TB a large benchmark suite's exact set
  *    (30+ bytes/shingle) stops fitting in executor memory long before
  *    its bloom filter (~10 bits/shingle at 1% FPP) does. The bloom goes
  *    map-side over every corpus shingle; only survivors (true hits +
  *    ~1% FP) enter the exact confirm join, so whether the planner
  *    broadcasts the benchmark set (small) or shuffles (large), the probe
  *    side is a ~99%-pruned sliver.
  *  - q96: exact frequent-bigram mining (relative threshold φ) via
  *    per-partition Misra-Gries candidate summaries + an exact recount
  *    of candidates only. The shuffle carries O(P/φ) candidate keys and
  *    the recount join's probe side, never the full per-partition
  *    vocabulary a plain groupBy count would spill at web scale.
  *  - q97: weighted sampling without replacement (inclusion ∝ weight)
  *    by bottom-k over integer min-hash priorities — the order-sampling
  *    scheme of Cohen & Kaplan ("Summarizing data using bottom-k
  *    sketches", PODC'07) with md5-derived 60-bit uniforms, so both
  *    engines compute the identical sample with zero RNG state.
  *
  * Reference anchor: the reference pipeline's sampling/validation side
  * (pipeline.py's sampled QA exports) is driver-side pandas `.sample`;
  * these are its distributed, deterministic, oracle-checkable
  * counterparts.
  */
object SketchExact {

  // ---------------------------------------------------------------- q95

  /** A membership test against `bf`, broadcast once: false means the
    * shingle is certainly not in the set.
    */
  private[graft] def bloomTest(s: SparkSession, bf: BloomFilter): Column => Column = {
    val bfB = s.sparkContext.broadcast(bf)
    val mightContain = udf((x: String) => x != null && bfB.value.mightContain(x))
    c => mightContain(c)
  }

  /** The pinned bench shingle set, the bloom test over it and the corpus
    * (doc_id, bucket, shs) frame — the sides of [[Dedup.decontam]].
    */
  private[graft] def benchBloom(
      s: SparkSession, dir: String): (DataFrame, Column => Column, DataFrame) = {
    val (bench0, corpus) = Dedup.decontamSides(s, dir)
    // THREE consumers read the bench shingle set (the sizing count, the
    // bloom build, and the exact confirm join) — pin it once instead of
    // re-deriving the distinct aggregation per consumer (the q107
    // two-consumer discipline). Bounded state: the benchmark is the
    // held-out eval suite, small by definition.
    val bench = Pin(bench0, "SketchExact.benchShingles")
    // Counting it for the filter's sizing is one tiny job; the sketch
    // itself is built by a distributed aggregate and only the ~KB..MB
    // filter bits ever reach the driver — fact data never does.
    val nBench = bench.count()
    val bf = bench.stat.bloomFilter("sh", math.max(nBench, 1L), 0.01)
    (bench, bloomTest(s, bf), corpus)
  }

  /** Corpus (doc_id, sh) rows surviving the bloom prefilter, plus the
    * bench set and the corpus frame — exposed for the spec, which
    * asserts the prefilter really prunes (|survivors| << |corpus
    * shingles|) and never drops a true hit (survivors ⊇ exact-join hits).
    */
  private[graft] def bloomSurvivors(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val (bench, mightContain, corpus) = benchBloom(s, dir)
    val corpusSh = corpus.select(col("doc_id"), explode(col("shs")).as("sh"))
    (corpusSh.filter(mightContain(col("sh"))), bench, corpus)
  }

  // ---------------------------------------------------------------- q96

  /** Exact relative frequency threshold: keep bg iff
    * cnt * 10000 >= Phi10k * total — integer arithmetic on both engines,
    * so the gate has no float edge. Phi10k = 15 ⇒ φ = 0.15%.
    */
  private val Phi10k = 15L

  /** Misra-Gries counter budget: k ≥ 1/φ ⇒ undercount < n_p/(k+1) ≤
    * φ·n_p, so every item with local count ≥ φ·n_p survives the summary
    * (and by averaging, every GLOBAL heavy hitter is local-heavy in at
    * least one partition — under ANY partitioning).
    */
  private val MgK = 667

  /** (doc-order) adjacent word-bigram rows of any frame with a `text`
    * column — shared by q96 and the streaming [[graft.streaming.HeavyHittersSink]].
    */
  private[graft] def bigramsOf(docs: DataFrame): DataFrame = {
    val d = docs
      .select(split(trim(col("text")), Ws.Plus).as("t"))
      .filter(size(col("t")) >= 2)
    val n1 = size(col("t")) - 1
    // both slices have exactly n-1 elements, so zip_with never pads;
    // lambda body touches only its arguments (the shinglesOf lesson)
    d.select(explode(zip_with(
      slice(col("t"), lit(1), n1),
      slice(col("t"), lit(2), n1),
      (a, b) => concat(a, lit(" "), b))).as("bg"))
  }

  /** (doc-order) adjacent word-bigram rows of `documents`. */
  private[graft] def bigramRows(s: SparkSession, dir: String): DataFrame =
    bigramsOf(Tables(s, dir, "documents"))

  /** Per-partition Misra-Gries summaries, unioned and deduped: a
    * partitioning-independent SUPERSET of the exact heavy set (the spec
    * proves superset-ness under several adversarial repartitions). The
    * map side emits ≤ MgK keys per partition — this, not the full
    * per-partition vocabulary, is all that shuffles.
    *
    * The decrement-all step is represented by a shared `offset` (est =
    * stored − offset), with dead entries (stored ≤ offset) reaped only
    * when a slot is needed — the standard amortization; each reap is
    * O(k) and frees every logically-zero counter at once.
    */
  private[graft] def bigramCandidates(s: SparkSession, bg: DataFrame): DataFrame = {
    import s.implicits._
    bg.select(col("bg")).as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var offset = 0L
      it.foreach { x =>
        m.get(x) match {
          case Some(v) if v > offset => m.update(x, v + 1)
          case _ =>
            if (m.size >= MgK) m.filterInPlace((_, v) => v > offset)
            if (m.size < MgK) m.update(x, offset + 1)
            else offset += 1 // decrement all; x itself is discarded
        }
      }
      m.iterator.collect { case (k, v) if v > offset => k }
    }.toDF("bg").distinct()
  }

  // ---------------------------------------------------------------- q97

  /** Weight cap: the replica fan-out bound. Weight = token count clipped
    * to [1, 64] — per-row fan-out is ≤ WCap map-side array ops, no rows
    * are ever materialized per replica.
    */
  private val WCap = 64

  /** 60-bit integer priority: min over w md5 replica hashes of the
    * doc_id. Ranking ascending by the minimum of w iid uniforms samples
    * without replacement with inclusion ∝ w: the global minimum among
    * Σw replica hashes is equally likely to be ANY of them, so the first
    * pick lands on doc i with probability w_i/Σw, and the argument
    * recurses over the remainder (Cohen & Kaplan's bottom-k order
    * sampling). 15 hex chars = 60 bits keeps the cast inside a signed
    * long on both engines.
    */
  private[graft] def priorityCol(id: org.apache.spark.sql.Column,
      w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_min(transform(sequence(lit(1), w), i =>
      conv(substring(md5(concat_ws("#", id, i)), 1, 15), 16, 10)
        .cast("long")))

  val defs: Seq[QueryDef] = Seq(

    // ---- bloom-prefiltered decontamination: q53's report, one body
    // (Dedup.decontam) under one oracle
    QueryDef("q95_bloom_decontam", Dedup.decontam, Some(Dedup.DecontamOracle)),

    /* Exact heavy hitters (frequent adjacent word-bigrams at relative
     * threshold φ = 0.15%): Misra-Gries candidates per partition →
     * broadcast candidate set → exact recount of candidate rows only →
     * integer threshold gate. The output is partitioning-independent
     * (candidates are a superset under any split; the recount is
     * exact), which is what lets a sketch-bearing plan run under a
     * value-level oracle hash. The total is computed WITHOUT a second
     * pass over exploded rows: Σ(len−1) over docs, map-side.
     */
    QueryDef(
      "q96_heavy_hitters",
      (s, dir) => {
        val bg = bigramRows(s, dir)
        val totalRow = Tables(s, dir, "documents")
          .select(split(trim(col("text")), Ws.Plus).as("t"))
          .filter(size(col("t")) >= 2)
          .agg(sum((size(col("t")) - 1).cast("long")))
          .head()
        val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
        val cands = bigramCandidates(s, bg)
        // Phi10k = the 15/10000 written literally in the oracle below
        bg.join(broadcast(cands), Seq("bg"))
          .groupBy("bg").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * lit(10000L) >= lit(Phi10k) * lit(total))
          .orderBy(col("cnt").desc, col("bg"))
      },
      Some("""WITH d AS (SELECT string_split_regex(trim(text), '[ \t\n\f\r]+') AS t
             |          FROM documents),
             |d2 AS (SELECT t FROM d WHERE len(t) >= 2),
             |g AS (SELECT t[i] || ' ' || t[i+1] AS bg
             |      FROM d2, unnest(generate_series(1, len(t)-1)) AS u(i)),
             |n AS (SELECT sum(len(t) - 1) AS total FROM d2),
             |c AS (SELECT bg, count(*) AS cnt FROM g GROUP BY 1)
             |SELECT bg, cnt FROM c CROSS JOIN n
             |WHERE cnt * 10000 >= 15 * total
             |ORDER BY cnt DESC, bg""".stripMargin)),

    /* Deterministic weighted sample without replacement: k = 50 docs,
     * inclusion ∝ token count (clipped to [1, 64]). Everything is
     * map-side until the final orderBy+limit, which Spark plans as
     * TakeOrderedAndProject — per-partition top-k then a k-row merge,
     * never a global sort (spec-pinned). Re-running with the same
     * corpus reproduces the identical sample on any cluster layout, and
     * samples drawn from overlapping corpora are COORDINATED (shared
     * docs keep their priorities — the bottom-k sketch property that
     * makes cross-snapshot sample diffs meaningful).
     */
    QueryDef(
      "q97_weighted_sample",
      (s, dir) => {
        val d = Tables(s, dir, "documents").select(col("doc_id"),
          least(greatest(size(split(trim(col("text")), Ws.Plus)), lit(1)),
            lit(WCap)).as("w"))
        d.select(col("doc_id"), col("w"),
            priorityCol(col("doc_id"), col("w")).as("priority"))
          .orderBy(col("priority"), col("doc_id"))
          .limit(50)
      },
      Some("""WITH d AS (SELECT doc_id,
             |  least(greatest(len(string_split_regex(trim(text), '[ \t\n\f\r]+')), 1), 64) AS w
             |  FROM documents),
             |p AS (SELECT doc_id, w,
             |  list_min(list_transform(generate_series(1, w),
             |    i -> CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT))) AS priority
             |  FROM d)
             |SELECT doc_id, w, priority FROM p
             |ORDER BY priority, doc_id LIMIT 50""".stripMargin)),

    /* Stratified weighted sampling: the balanced training-mix sampler —
     * k = 10 docs PER SOURCE, inclusion ∝ weight within each source,
     * using q97's integer min-hash priorities. `source` is a bounded
     * dimension, so a window over it could put an entire source's rows
     * in ONE task (a hot group); the `row_number() <= k` shape plans a
     * partial WindowGroupLimit before the exchange (SketchExactSpec pins
     * it), so each map task ships at most k rows per source — q09's
     * single-window top-k.
     */
    QueryDef(
      "q100_stratified_weighted",
      (s, dir) => {
        val d = Tables(s, dir, "documents").select(col("doc_id"),
          col("source"),
          least(greatest(size(split(trim(col("text")), Ws.Plus)), lit(1)),
            lit(WCap)).as("w"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("priority"), col("doc_id"))
        d.select(col("source"), col("doc_id"), col("w"),
            priorityCol(col("doc_id"), col("w")).as("priority"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select("source", "rank", "doc_id", "w", "priority")
          .orderBy("source", "rank")
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |  least(greatest(len(string_split_regex(trim(text), '[ \t\n\f\r]+')), 1), 64) AS w
             |  FROM documents),
             |p AS (SELECT doc_id, source, w,
             |  list_min(list_transform(generate_series(1, w),
             |    i -> CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT))) AS priority
             |  FROM d),
             |r AS (SELECT source, doc_id, w, priority,
             |        row_number() OVER (PARTITION BY source
             |                           ORDER BY priority, doc_id) AS rank
             |      FROM p)
             |SELECT source, rank, doc_id, w, priority FROM r
             |WHERE rank <= 10 ORDER BY source, rank""".stripMargin)),

    /* Decontamination from the PERSISTED benchmark index
     * ([[BloomIndex]]): identical output to q53/q95 under the same
     * oracle, but the benchmark's distinct-shingle table (bucketed by
     * sh) and bloom sidecar are built once per benchmark generation and
     * READ here — the q91 serving path applied to the sketch layer. The
     * confirm join's index side is exchange-free (spec-pinned); only the
     * bloom-pruned survivor sliver shuffles.
     */
    QueryDef(
      "q99_decontam_indexed",
      (s, dir) => BloomIndex.probe(s, dir),
      Some(Dedup.DecontamOracle))
  )
}
