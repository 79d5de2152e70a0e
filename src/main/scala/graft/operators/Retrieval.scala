package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Pin, QueryDef, Tables}

/** Retrieval operators over the `documents` + `embeddings` tables: BM25
  * lexical top-k (q88) and hybrid lexical+semantic fusion via reciprocal
  * rank fusion (q90). These are the index-side primitives a RAG /
  * curation pipeline runs at corpus scale — the reference's dictionary
  * lookup waterfall (`tokenizer.py:897-1392`) is the same
  * "probe a term index, rank candidates" shape with a domain-specific
  * scorer; BM25 is the corpus-statistical generalization.
  *
  * Scale shape (100 TB): tf is ONE shuffle on (doc_id, term) — the
  * inverted-index build; df reuses the tf frame so it is
  * vocabulary-sized; the query-term set rides a broadcast, so the probe
  * touches only postings of query terms (never the full index); corpus
  * constants (N, avgdl) ride a 1-row broadcast. Per-query ranking
  * windows partition by q_id — cardinality bounded by matched postings.
  *
  * Determinism: the only transcendental (idf) and the tf saturation
  * ratio are combined in ONE row-local double expression, rounded once
  * to integer micro-units; per-doc totals are then LONG sums, so the
  * aggregation is order-independent and cross-engine exact, and the
  * ranking is a total order (score DESC, doc_id) — the q73/q74 integer
  * micro-nat design. Spark round (HALF_UP) ≡ DuckDB round
  * (half-away-from-zero) on the all-positive scores.
  */
object Retrieval {

  private val WordRe = "[a-z0-9]+"

  /** Fixed benchmark query set: (q_id, term), terms normalized by the
    * same tokenizer as the corpus. Terms absent from the corpus simply
    * produce no postings (contribute 0), the standard BM25 convention.
    */
  private[graft] val QueryTerms: Seq[(Long, String)] = Seq(
    1L -> "hash", 1L -> "join",
    2L -> "window", 2L -> "agg", 2L -> "stream",
    3L -> "vector", 3L -> "scan", 3L -> "filter")

  private def queryTerms(s: SparkSession): DataFrame = {
    import s.implicits._
    QueryTerms.toDF("q_id", "term")
  }

  /** BM25 scores for every (query, document) pair with at least one
    * matched term: (q_id, doc_id, n_hit, bm25_micro). No ranking — the
    * callers window to their own k so lexical scoring is reusable by
    * the fusion query.
    */
  /** The from-text corpus index triple (tf, dfreq, stats) — shared by
    * the scorer and q94's feedback expansion.
    */
  private def corpusIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val words = Tables(s, dir, "documents")
      .select(col("doc_id"),
        expr(s"regexp_extract_all(lower(text), '$WordRe', 0)").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("dl"), col("ws"))
    // dl is functionally dependent on doc_id: carrying it in the grouping
    // key costs nothing and saves a join back for document length.
    val tf = words
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = words.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    (tf, dfreq, stats)
  }

  private val idfExpr: Column = log(lit(1.0) +
    ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)))

  def bm25ScoresFor(s: SparkSession, dir: String, qt: DataFrame): DataFrame = {
    val (tf, dfreq, stats) = corpusIndex(s, dir)
    // numeric literals are written as the SAME decimal text the oracle
    // SQL uses (2.2, 1.2, 0.25, 0.75): both engines parse them to the
    // identical nearest double. Computing k1+1.0 in Scala instead would
    // hit a round-to-even tie and diverge from the parsed 2.2.
    val tfSat = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
        lit(0.75) * col("dl").cast("double") / col("avgdl")))
    tf.join(broadcast(qt), Seq("term"))
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .select(col("q_id"), col("doc_id"),
        round(idfExpr * tfSat * lit(1e6)).cast("long").as("term_micro"))
      .groupBy("q_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"), sum(col("term_micro")).as("bm25_micro"))
  }

  def bm25Scores(s: SparkSession, dir: String): DataFrame =
    bm25ScoresFor(s, dir, queryTerms(s))

  /** Oracle-side query-term literal, defined once per oracle. */
  private val QtCte: String =
    """qt AS (SELECT * FROM (VALUES
      |    (1, 'hash'), (1, 'join'),
      |    (2, 'window'), (2, 'agg'), (2, 'stream'),
      |    (3, 'vector'), (3, 'scan'), (3, 'filter')) AS v(q_id, term))""".stripMargin

  /** Oracle-side BM25 scoring chain (words → … → perdoc) with every CTE
    * name suffixed by `sfx`, over `corpusFrom` (a table name or aliased
    * subquery exposing doc_id, text). Requires [[QtCte]] in scope.
    */
  private def bm25Core(sfx: String, corpusFrom: String,
      qtName: String = "qt"): String =
    s"""words$sfx AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM $corpusFrom),
       |dls$sfx AS (SELECT doc_id, len(ws) AS dl, ws FROM words$sfx),
       |tf$sfx AS (
       |  SELECT doc_id, dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(ws) AS term FROM dls$sfx)
       |  GROUP BY 1, 2, 3),
       |dfc$sfx AS (SELECT term, count(*) AS df FROM tf$sfx GROUP BY 1),
       |stats$sfx AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dls$sfx),
       |scored$sfx AS (
       |  SELECT q.q_id, t.doc_id,
       |    CAST(round(ln(1.0 + (CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
       |                        / (CAST(d.df AS DOUBLE) + 0.5))
       |      * ((CAST(t.tf AS DOUBLE) * 2.2)
       |         / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25
       |            + 0.75 * CAST(t.dl AS DOUBLE)
       |              / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
       |      * 1000000.0) AS BIGINT) AS term_micro
       |  FROM tf$sfx t JOIN $qtName q USING (term) JOIN dfc$sfx d USING (term)
       |  CROSS JOIN stats$sfx s),
       |perdoc$sfx AS (
       |  SELECT q_id, doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       |    CAST(sum(term_micro) AS BIGINT) AS bm25_micro
       |  FROM scored$sfx GROUP BY 1, 2)""".stripMargin

  /** Shared CTEs for q88/q90: the full-corpus scoring chain. */
  private val Bm25Cte: String = QtCte + ",\n" + bm25Core("", "documents")

  /** q88/q91's shared ranking tail over a (q_id, doc_id, n_hit,
    * bm25_micro) scores frame.
    */
  private[graft] def top5(scores: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(col("bm25_micro").desc, col("doc_id"))
    scores
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "doc_id", "n_hit", "bm25_micro")
      .orderBy("q_id", "rank")
  }

  /** q90's lexical leg: top-20 docs per query by (bm25_micro DESC,
    * doc_id) over a (q_id, doc_id, n_hit, bm25_micro) scores frame —
    * shared by q90 (full-corpus scores) and the hybrid query-stream
    * sink (indexed probe scores; q88 ≡ q91 under one oracle makes the
    * two legs value-identical), so the rank rule cannot drift.
    */
  private[graft] def lexRanks(scores: DataFrame, n: Int = 20): DataFrame = {
    val wL = Window.partitionBy("q_id")
      .orderBy(col("bm25_micro").desc, col("doc_id"))
    scores
      .withColumn("lex_rank", row_number().over(wL))
      .filter(col("lex_rank") <= n)
      .select("q_id", "doc_id", "lex_rank")
  }

  /** q90's reciprocal-rank fusion: full-outer join of the two legs'
    * (q_id, doc_id, rank) frames, rrf_micro = Σ round(1e9/(60+rank))
    * over the present legs (integer micro-units — order-independent
    * cross-engine exact), top-10 by (rrf_micro DESC, doc_id). ONE
    * function for q90 and [[graft.streaming.HybridServeSink]] — the
    * fusion rule is oracle-gated through q90 and cannot drift between
    * batch and stream.
    */
  private[graft] def rrfFuse(lex: DataFrame, sem: DataFrame): DataFrame = {
    val rrf = coalesce(round(lit(1e9) / (lit(60) + col("lex_rank")))
        .cast("long"), lit(0L)) +
      coalesce(round(lit(1e9) / (lit(60) + col("sem_rank")))
        .cast("long"), lit(0L))
    val wF = Window.partitionBy("q_id")
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    lex.join(sem, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro", rrf)
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= 10)
      .select("q_id", "rank", "doc_id", "lex_rank", "sem_rank", "rrf_micro")
      .orderBy("q_id", "rank")
  }

  /** Shared by q88 (scores computed from raw text) and q91 (scores from
    * the persisted postings index): the index is a materialization, not
    * a semantics change, so both run under ONE oracle — the q78 gate.
    */
  private val Bm25TopkSql: String =
    s"""WITH $Bm25Cte
       |SELECT CAST(q_id AS BIGINT) AS q_id, rank, doc_id, n_hit, bm25_micro
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY q_id ORDER BY bm25_micro DESC, doc_id) AS rank
       |      FROM perdoc) r
       |WHERE rank <= 5
       |ORDER BY q_id, rank""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /* BM25 lexical top-k retrieval: Robertson idf
     * ln(1 + (N - df + 0.5)/(df + 0.5)), k1 = 1.2, b = 0.75. The
     * score's aggregation path is integer end-to-end (see object doc),
     * so the oracle hash pins tokenizer, index build, probe, scorer,
     * and ranking all at once.
     */
    QueryDef(
      "q88_bm25_topk",
      (s, dir) => top5(bm25Scores(s, dir)),
      Some(Bm25TopkSql)),

    /* BM25 from the PERSISTED term-bucketed postings index
     * ([[PostingsIndex]]): identical output to q88 under the same
     * oracle, but the probe reads only the buckets the query terms hash
     * into (bucket pruning on the literal IN predicate) plus
     * vocabulary-sized side stats — O(postings-of-query-terms) per
     * probe instead of q88's O(corpus) recompute. The serving path.
     */
    QueryDef(
      "q91_bm25_indexed",
      (s, dir) => top5(PostingsIndex.probeScores(s, dir, QueryTerms)),
      Some(Bm25TopkSql)),

    /* Postings-index MAINTENANCE loop, oracle-gated — the q87 proof
     * structure applied to retrieval: build the index on history
     * (ingest bucket < 230), probe, ADMIT batch 1 ([230,243)) via
     * [[PostingsIndex.append]], probe again, admit batch 2 ([243,256)),
     * probe a third time — one frame, phase 1|2|3. The DuckDB oracle
     * recomputes each phase's BM25 monolithically over the corpus the
     * index covers at that moment, so the hash gate proves the APPEND
     * path end to end: bucketed postings layout preserved, df merged by
     * term, and — the part q91 cannot exercise — the (n_docs, sum_dl)
     * corpus meta advanced by signed deltas (idf and the length
     * normalization SHIFT between phases; a stale stats sidecar is a
     * wrong hash, not a slow query). Phase 3's corpus is the full table,
     * so its rows also pin loop-end ≡ q88/q91. Probes are eagerly
     * checkpointed before the next append mutates the table+sidecars;
     * the scratch index rebuilds per run (idempotent), never touching
     * q91's persisted production index.
     */
    QueryDef(
      "q92_postings_maintenance",
      (s, dir) => {
        // pid-suffixed scratch (q112's discipline), stale trees purged
        val name = PostingsIndex.tableNameFor(dir) + "_maint_" +
          ProcessHandle.current().pid()
        val path = java.nio.file.Paths.get(PostingsIndex.indexRoot, name)
        IndexCommit.purgeAllScratchRoots()
        val base = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
          .withColumn("bucket", BandIndex.ingestBucket)
        def slice(lo: Int, hi: Int) =
          base.filter(col("bucket") >= lo && col("bucket") < hi)
            .select("doc_id", "text")
        PostingsIndex.buildIndexDocs(s, slice(0, 230), name, path)
        def probe(phase: Int) =
          Pin(top5(PostingsIndex.probeScoresFor(s, name, path, QueryTerms))
            .withColumn("phase", lit(phase)), s"q92:probe$phase")
        val p1 = probe(1)
        PostingsIndex.append(s, name, path, slice(230, 243))
        val p2 = probe(2)
        PostingsIndex.append(s, name, path, slice(243, 256))
        val p3 = probe(3)
        p1.unionByName(p2).unionByName(p3)
          .select("phase", "q_id", "rank", "doc_id", "n_hit", "bm25_micro")
          .orderBy("phase", "q_id", "rank")
      },
      {
        def phase(n: Int, bmax: Int): String =
          bm25Core(s"_$n",
            s"""(SELECT d.doc_id, d.text FROM documents d
               |     JOIN bk ON bk.doc_id = d.doc_id
               |     WHERE bk.bucket < $bmax) c$n""".stripMargin) +
            s""",
               |p$n AS (
               |  SELECT $n AS phase, CAST(q_id AS BIGINT) AS q_id, rank,
               |    doc_id, n_hit, bm25_micro
               |  FROM (SELECT *, row_number() OVER (
               |          PARTITION BY q_id ORDER BY bm25_micro DESC, doc_id) AS rank
               |        FROM perdoc_$n) r
               |  WHERE rank <= 5)""".stripMargin
        Some(s"""WITH $QtCte,
               |bk AS (SELECT doc_id,
               |         CAST('0x' || substr(md5(coalesce(lang, '') || ':' || CAST(doc_id AS VARCHAR)), 1, 2) AS INT) AS bucket
               |       FROM documents),
               |${phase(1, 230)},
               |${phase(2, 243)},
               |${phase(3, 256)}
               |SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
               |ORDER BY phase, q_id, rank""".stripMargin)
      }),

    /* COMPACTION in the serving loop, oracle-gated — q139's proof
     * structure applied to retrieval, under q92's ORACLE VERBATIM:
     * the crash window is made real (batch 1's postings land via
     * [[PostingsIndex.appendPostingsOnly]], the sidecar commit
     * doesn't), the replay admits the batch exactly-once at the
     * sidecar layer (duplicating every postings row), a mid-loop
     * [[PostingsIndex.compact]] folds the duplicate copy through the
     * adopted marker-bound retire tail, and the loop CONTINUES with a
     * post-compact append. Phases 2 and 3 probe the compacted-then-
     * appended index while the oracle recomputes each phase
     * monolithically over the corpus the index covers at that moment —
     * so the hash pins the full invariance claim q92 cannot: replay
     * duplicates change no score (reads are row-DISTINCT), df stays
     * exactly-once through the replay (a double-applied df delta would
     * shift every idf and flip the hash), the rewrite preserves
     * layout + sidecar estate, and appends land correctly on the
     * compacted table. Fold exactness is enforced in-query (a
     * compaction that kept a duplicate or dropped a row fails loudly).
     * Scale shape: q92's (bucket-pruned probes, vocabulary-sized df
     * merges) + one distinct + bucketed rewrite, the build's own cost
     * class.
     */
    QueryDef(
      "q140_postings_compaction",
      (s, dir) => {
        val name = PostingsIndex.tableNameFor(dir) + "_cpt_maint_" +
          ProcessHandle.current().pid()
        val path = java.nio.file.Paths.get(PostingsIndex.indexRoot, name)
        IndexCommit.purgeAllScratchRoots()
        val base = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
          .withColumn("bucket", BandIndex.ingestBucket)
        def slice(lo: Int, hi: Int) =
          base.filter(col("bucket") >= lo && col("bucket") < hi)
            .select("doc_id", "text")
        PostingsIndex.buildIndexDocs(s, slice(0, 230), name, path)
        def probe(phase: Int) =
          Pin(top5(PostingsIndex.probeScoresFor(s, name, path, QueryTerms))
            .withColumn("phase", lit(phase)), s"q140:probe$phase")
        val p1 = probe(1)
        val c0 = s.table(name).count()
        // the crash window made real: postings landed, sidecar didn't
        PostingsIndex.appendPostingsOnly(s, name, slice(230, 243))
        val c1 = s.table(name).count()
        // the replay: postings rows land a second time, sidecar slot
        // v=1 exactly once (deterministic slot)
        PostingsIndex.append(s, name, path, slice(230, 243), Some(1L))
        val (before, after) = PostingsIndex.compact(s, name, path)
        require(before == c1 + (c1 - c0) && after == c1,
          s"compaction must fold exactly the replayed copy " +
            s"(build $c0, +batch $c1, before $before, after $after)")
        val p2 = probe(2)
        PostingsIndex.append(s, name, path, slice(243, 256))
        val p3 = probe(3)
        p1.unionByName(p2).unionByName(p3)
          .select("phase", "q_id", "rank", "doc_id", "n_hit", "bm25_micro")
          .orderBy("phase", "q_id", "rank")
      },
      {
        // q92's oracle TEXT, verbatim phase structure: the invariance
        // claim IS that the replay + compaction are score-invisible
        def phase(n: Int, bmax: Int): String =
          bm25Core(s"_$n",
            s"""(SELECT d.doc_id, d.text FROM documents d
               |     JOIN bk ON bk.doc_id = d.doc_id
               |     WHERE bk.bucket < $bmax) c$n""".stripMargin) +
            s""",
               |p$n AS (
               |  SELECT $n AS phase, CAST(q_id AS BIGINT) AS q_id, rank,
               |    doc_id, n_hit, bm25_micro
               |  FROM (SELECT *, row_number() OVER (
               |          PARTITION BY q_id ORDER BY bm25_micro DESC, doc_id) AS rank
               |        FROM perdoc_$n) r
               |  WHERE rank <= 5)""".stripMargin
        Some(s"""WITH $QtCte,
               |bk AS (SELECT doc_id,
               |         CAST('0x' || substr(md5(coalesce(lang, '') || ':' || CAST(doc_id AS VARCHAR)), 1, 2) AS INT) AS bucket
               |       FROM documents),
               |${phase(1, 230)},
               |${phase(2, 243)},
               |${phase(3, 256)}
               |SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
               |ORDER BY phase, q_id, rank""".stripMargin)
      }),

    /* Hybrid retrieval via reciprocal rank fusion: the lexical leg is
     * the BM25 scorer above (top-20); the semantic leg is exact cosine
     * of each query's embedding (vec_id = q_id — the synthetic tables
     * share the 0..N id space) against the corpus (top-20, self
     * excluded, the q40 convention). RRF (Cormack et al., SIGIR'09):
     * score = Σ 1/(60 + rank) over the lists that retrieved the doc —
     * kept exact as round(1e9/(60+rank)) LONG units, so fusion is
     * integer arithmetic and the final ranking a total order.
     *
     * Scale shape: each leg ranks independently (lexical: broadcast
     * probe of the term index; semantic: broadcast query vectors over
     * the partitioned corpus — at 100 TB the ANN legs q41/q42/q79
     * substitute 1:1 here); fusion is a (q_id, doc_id) full-outer join
     * of two k-row-per-query frames — driver-scale tiny, executor-side
     * still.
     */
    QueryDef(
      "q90_hybrid_rrf",
      (s, dir) => {
        val lex = lexRanks(bm25Scores(s, dir))
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
          .withColumn("nrm", sqrt(aggregate(
            transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
        val q = e.filter(col("vec_id").isin(1L, 2L, 3L))
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        val n = e.select(col("vec_id").as("doc_id"), col("v").as("nv"),
          col("nrm").as("nn"))
        val dot = aggregate(zip_with(col("qv"), col("nv"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x)
        val wS = Window.partitionBy("q_id").orderBy(col("cos").desc, col("doc_id"))
        val sem = broadcast(q).crossJoin(n)
          .filter(col("q_id") =!= col("doc_id"))
          .withColumn("cos", dot / (col("qn") * col("nn")))
          .withColumn("sem_rank", row_number().over(wS))
          .filter(col("sem_rank") <= 20)
          .select("q_id", "doc_id", "sem_rank")
        rrfFuse(lex, sem)
      },
      Some(s"""WITH $Bm25Cte,
             |lex AS (
             |  SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, lex_rank FROM (
             |    SELECT q_id, doc_id, row_number() OVER (
             |      PARTITION BY q_id ORDER BY bm25_micro DESC, doc_id) AS lex_rank
             |    FROM perdoc) r
             |  WHERE lex_rank <= 20),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |nv AS (SELECT vec_id, v,
             |         sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
             |sem AS (
             |  SELECT q_id, doc_id, sem_rank FROM (
             |    SELECT q.vec_id AS q_id, t.vec_id AS doc_id,
             |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64),
             |          i -> q.v[i] * t.v[i])) / (q.nrm * t.nrm) DESC,
             |        t.vec_id) AS sem_rank
             |    FROM nv q JOIN nv t
             |      ON q.vec_id IN (1, 2, 3) AND q.vec_id <> t.vec_id) r
             |  WHERE sem_rank <= 20),
             |fused AS (
             |  SELECT coalesce(l.q_id, s.q_id) AS q_id,
             |    coalesce(l.doc_id, s.doc_id) AS doc_id,
             |    l.lex_rank, s.sem_rank,
             |    coalesce(CAST(round(1000000000.0 / (60 + l.lex_rank)) AS BIGINT), 0)
             |      + coalesce(CAST(round(1000000000.0 / (60 + s.sem_rank)) AS BIGINT), 0)
             |      AS rrf_micro
             |  FROM lex l FULL OUTER JOIN sem s
             |    ON l.q_id = s.q_id AND l.doc_id = s.doc_id)
             |SELECT q_id, rank, doc_id,
             |  CAST(lex_rank AS INT) AS lex_rank, CAST(sem_rank AS INT) AS sem_rank,
             |  rrf_micro
             |FROM (SELECT *, row_number() OVER (
             |        PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id) AS rank
             |      FROM fused) r
             |WHERE rank <= 10
             |ORDER BY q_id, rank""".stripMargin)),

    /* MMR diversified rerank (Carbonell & Goldstein, SIGIR'98): greedy
     * selection of k=5 from the top-12 cosine candidates per query,
     * maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) with λ = 0.7 —
     * the standard redundancy-suppression pass between retrieval and a
     * context window.
     *
     * Determinism: rel and pairwise sim are each rounded ONCE to long
     * micro-units, and λ = 0.7 enters as the INTEGER weights (7, 3) on
     * deci-scaled scores — the greedy argmax chain is pure integer
     * arithmetic with a doc_id tie-break, so all 5 picks are a total
     * order on both engines (a float λ would make every pick a float
     * comparison and the chain's divergence compounding).
     *
     * Scale shape: the candidate frame is k'-per-query (top-12 via one
     * window over the broadcast-query × corpus cosine — at 100 TB the
     * ANN legs q41/q42/q79 produce it instead); everything after is
     * candidate-bounded: the sim matrix is 12×12 per query, and each
     * of the 4 greedy iterations is one join + one grouped max + one
     * rank-1 window over frames whose size is queries × candidates —
     * independent of corpus size by construction. The iteration count
     * is k, fixed, not data-dependent (contrast q39's fixpoint);
     * per-iteration checkpoints keep the lineage flat, the CC-loop
     * discipline.
     */
    QueryDef(
      "q93_mmr_rerank",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
          .withColumn("nrm", sqrt(aggregate(
            transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
        val q = e.filter(col("vec_id").isin(1L, 2L, 3L))
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        val n = e.select(col("vec_id").as("doc_id"), col("v").as("nv"),
          col("nrm").as("nn"))
        val dotQ = aggregate(zip_with(col("qv"), col("nv"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x)
        val wC = Window.partitionBy("q_id").orderBy(col("rel_micro").desc, col("doc_id"))
        // the scope releases the candidate, similarity and earlier
        // selection pins once the last selection is pinned
        val picked = Pin.scope {
          val cand = Pin(broadcast(q).crossJoin(n)
            .filter(col("q_id") =!= col("doc_id"))
            .withColumn("rel_micro",
              round((dotQ / (col("qn") * col("nn"))) * lit(1e6)).cast("long"))
            .withColumn("rk", row_number().over(wC))
            .filter(col("rk") <= 12)
            .select("q_id", "doc_id", "nv", "nn", "rel_micro"), "q93:candidates")
          val aSide = cand.select(col("q_id"), col("doc_id").as("d1"),
            col("nv").as("v1"), col("nn").as("n1"))
          val bSide = cand.select(col("q_id").as("bq"), col("doc_id").as("d2"),
            col("nv").as("v2"), col("nn").as("n2"))
          val dotP = aggregate(zip_with(col("v1"), col("v2"), (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x)
          val sim = Pin(aSide.join(bSide,
              col("q_id") === col("bq") && col("d1") =!= col("d2"))
            .withColumn("sim_micro",
              round((dotP / (col("n1") * col("n2"))) * lit(1e6)).cast("long"))
            .select("q_id", "d1", "d2", "sim_micro"), "q93:similarity")
          var selected = Pin(cand
            .withColumn("rk", row_number().over(wC))
            .filter(col("rk") === 1)
            .select(col("q_id"), col("doc_id"), col("rel_micro"),
              (lit(7) * col("rel_micro")).as("mmr_micro"), lit(1).as("pick")),
            "q93:selected")
          for (i <- 2 to 5) {
            val maxSim = sim
              .join(selected.select(col("q_id"), col("doc_id").as("d2")),
                Seq("q_id", "d2"))
              .groupBy(col("q_id"), col("d1").as("doc_id"))
              .agg(max(col("sim_micro")).as("maxsim"))
            val wP = Window.partitionBy("q_id")
              .orderBy(col("mmr_micro").desc, col("doc_id"))
            val next = cand
              .join(selected.select("q_id", "doc_id"), Seq("q_id", "doc_id"),
                "left_anti")
              .join(maxSim, Seq("q_id", "doc_id"))
              .withColumn("mmr_micro",
                lit(7) * col("rel_micro") - lit(3) * col("maxsim"))
              .withColumn("rk", row_number().over(wP))
              .filter(col("rk") === 1)
              .select(col("q_id"), col("doc_id"), col("rel_micro"),
                col("mmr_micro"), lit(i).as("pick"))
            selected = Pin(selected.unionByName(next), "q93:selected")
          }
          selected
        }
        picked.orderBy("q_id", "pick")
      },
      {
        def step(i: Int): String =
          s"""sc$i AS (
             |  SELECT c.q_id, c.doc_id, c.rel_micro,
             |    7*c.rel_micro - 3*max(s.sim_micro) AS mmr_micro
             |  FROM cand c
             |  JOIN sim s ON s.q_id = c.q_id AND s.d1 = c.doc_id
             |  JOIN all${i - 1} y ON y.q_id = s.q_id AND y.doc_id = s.d2
             |  WHERE NOT EXISTS (SELECT 1 FROM all${i - 1} x
             |                    WHERE x.q_id = c.q_id AND x.doc_id = c.doc_id)
             |  GROUP BY 1, 2, 3),
             |sel$i AS (
             |  SELECT q_id, doc_id, rel_micro, mmr_micro, $i AS pick
             |  FROM (SELECT *, row_number() OVER (
             |          PARTITION BY q_id ORDER BY mmr_micro DESC, doc_id) AS rk
             |        FROM sc$i) r WHERE rk = 1),
             |all$i AS (SELECT * FROM all${i - 1} UNION ALL SELECT * FROM sel$i)""".stripMargin
        Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               |nv AS (SELECT vec_id, v,
               |         sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
               |cand AS (
               |  SELECT q_id, doc_id, rel_micro FROM (
               |    SELECT q.vec_id AS q_id, t.vec_id AS doc_id,
               |      CAST(round((list_sum(list_transform(generate_series(1, 64),
               |        i -> q.v[i] * t.v[i])) / (q.nrm * t.nrm)) * 1000000.0)
               |        AS BIGINT) AS rel_micro,
               |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
               |        CAST(round((list_sum(list_transform(generate_series(1, 64),
               |          i -> q.v[i] * t.v[i])) / (q.nrm * t.nrm)) * 1000000.0)
               |          AS BIGINT) DESC, t.vec_id) AS rk
               |    FROM nv q JOIN nv t
               |      ON q.vec_id IN (1, 2, 3) AND q.vec_id <> t.vec_id) c
               |  WHERE rk <= 12),
               |sim AS (
               |  SELECT a.q_id, a.doc_id AS d1, b.doc_id AS d2,
               |    CAST(round((list_sum(list_transform(generate_series(1, 64),
               |      i -> va.v[i] * vb.v[i])) / (va.nrm * vb.nrm)) * 1000000.0)
               |      AS BIGINT) AS sim_micro
               |  FROM cand a
               |  JOIN cand b ON a.q_id = b.q_id AND a.doc_id <> b.doc_id
               |  JOIN nv va ON va.vec_id = a.doc_id
               |  JOIN nv vb ON vb.vec_id = b.doc_id),
               |sel1 AS (
               |  SELECT q_id, doc_id, rel_micro, 7*rel_micro AS mmr_micro, 1 AS pick
               |  FROM (SELECT *, row_number() OVER (
               |          PARTITION BY q_id ORDER BY rel_micro DESC, doc_id) AS rk
               |        FROM cand) r WHERE rk = 1),
               |all1 AS (SELECT * FROM sel1),
               |${step(2)},
               |${step(3)},
               |${step(4)},
               |${step(5)}
               |SELECT q_id, doc_id, rel_micro, mmr_micro, pick FROM all5
               |ORDER BY q_id, pick""".stripMargin)
      }),

    /* Pseudo-relevance-feedback query expansion (RM3-family, Abdul-
     * Jaleel et al., TREC'04 — deterministic tf·idf term selection
     * instead of the RM smoothing mixture): BM25 pass 1 → top-5
     * feedback docs per query → candidate expansion terms scored
     * fbtf × idf_micro (both integers: summed feedback tf times the
     * once-rounded idf), original query terms excluded, top-3 kept →
     * BM25 pass 2 over the EXPANDED term set. The query-side recall
     * lever that pairs with q93's precision lever; q88 → q94 → q93 is
     * the full query pipeline.
     *
     * Determinism: both passes are the q88 scorer (integer micro-unit
     * totals); the expansion selection is integer arithmetic with a
     * term tie-break, so the expanded term SET — on which every pass-2
     * score depends — is itself hash-pinned through the final rows.
     *
     * Scale shape: pass 1 and pass 2 are broadcast-probe scoring (the
     * serving path substitutes the postings index 1:1); the expansion
     * join touches only the 15 feedback docs' postings rows (a
     * doc-keyed semi-join), and the candidate term frame is bounded by
     * feedback-doc vocabulary, windowed per query.
     */
    QueryDef(
      "q94_prf_expansion",
      (s, dir) => {
        val qt = queryTerms(s)
        val (tf, dfreq, stats) = corpusIndex(s, dir)
        val wF = Window.partitionBy("q_id")
          .orderBy(col("bm25_micro").desc, col("doc_id"))
        val feedback = bm25ScoresFor(s, dir, qt)
          .withColumn("rank", row_number().over(wF))
          .filter(col("rank") <= 5)
          .select("q_id", "doc_id")
        val idfMicro = round(idfExpr * lit(1e6)).cast("long")
        val wE = Window.partitionBy("q_id")
          .orderBy(col("exp_micro").desc, col("term"))
        val expansion = tf.join(feedback, Seq("doc_id"))
          .groupBy("q_id", "term").agg(sum(col("tf")).as("fbtf"))
          .join(broadcast(qt.select(col("q_id").as("oq"), col("term").as("oterm"))),
            col("term") === col("oterm") && col("q_id") === col("oq"), "left_anti")
          .join(dfreq, Seq("term"))
          .crossJoin(broadcast(stats))
          .withColumn("exp_micro", col("fbtf") * idfMicro)
          .withColumn("erk", row_number().over(wE))
          .filter(col("erk") <= 3)
          .select("q_id", "term")
        val qt2 = qt.unionByName(expansion)
        top5(bm25ScoresFor(s, dir, qt2))
      },
      {
        val expSql =
          s"""fb AS (
             |  SELECT q_id, doc_id FROM (
             |    SELECT q_id, doc_id, row_number() OVER (
             |      PARTITION BY q_id ORDER BY bm25_micro DESC, doc_id) AS rank
             |    FROM perdoc) r WHERE rank <= 5),
             |expc AS (
             |  SELECT t.doc_id, f.q_id, t.term, t.tf FROM tf t
             |  JOIN fb f ON f.doc_id = t.doc_id),
             |expg AS (
             |  SELECT q_id, term, CAST(sum(tf) AS BIGINT) AS fbtf FROM expc
             |  WHERE NOT EXISTS (SELECT 1 FROM qt q
             |                    WHERE q.q_id = expc.q_id AND q.term = expc.term)
             |  GROUP BY 1, 2),
             |expt AS (
             |  SELECT q_id, term FROM (
             |    SELECT e.q_id, e.term, row_number() OVER (
             |      PARTITION BY e.q_id ORDER BY
             |        e.fbtf * CAST(round(ln(1.0 +
             |          (CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
             |            / (CAST(d.df AS DOUBLE) + 0.5)) * 1000000.0) AS BIGINT)
             |          DESC, e.term) AS erk
             |    FROM expg e JOIN dfc d USING (term) CROSS JOIN stats s) r
             |  WHERE erk <= 3),
             |qt2 AS (SELECT q_id, term FROM qt
             |        UNION ALL SELECT q_id, term FROM expt)""".stripMargin
        Some(s"""WITH $Bm25Cte,
               |$expSql,
               |${bm25Core("_2", "documents", "qt2")}
               |SELECT CAST(q_id AS BIGINT) AS q_id, rank, doc_id, n_hit, bm25_micro
               |FROM (SELECT *, row_number() OVER (
               |        PARTITION BY q_id ORDER BY bm25_micro DESC, doc_id) AS rank
               |      FROM perdoc_2) r
               |WHERE rank <= 5
               |ORDER BY q_id, rank""".stripMargin)
      })
  )
}
