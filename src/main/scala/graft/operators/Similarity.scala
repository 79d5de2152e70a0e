package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Pin, QueryDef, Tables}

/** Similarity search over the `embeddings` table (Array[Float], 64-dim).
  *
  * q40 is the exact brute-force baseline: broadcast the (small) query set,
  * stream the corpus once, top-k per query via a window. At cluster scale
  * the corpus side stays partitioned; only queries move.
  *
  * q41 is a sign-LSH bucket path (random-hyperplane family degenerates to
  * coordinate signs for axis-aligned planes) — candidate generation is an
  * equi-join on the bucket key, so it shuffles once on the key instead of
  * cross-joining.
  *
  * q42 is the IVF-flat scale path ([[ivfTopK]]): corpus rows are assigned
  * to their argmax-cosine centroid cell (one map-side-combined aggregate,
  * centroids broadcast), queries probe their `nprobe` nearest cells, and
  * candidate generation is an equi-join on cell id. Recall-vs-scan is a
  * DATA property: on clustered corpora a few probes recover the true
  * neighbors (SimilaritySpec: recall >= 0.9 at nprobe=2 of 16 on a
  * 16-cluster corpus, == 1.0 at nprobe=K), while on the uniform-random
  * synthetic `embeddings` table recall necessarily tracks the scanned
  * fraction (~0.5 at nprobe=4 of 16, measured) because near neighbors of
  * random points share no locality structure for ANY partitioning scheme
  * to exploit. The oracle checks the MACHINERY exactly at sf.
  *
  * Determinism: vectors are cast to double element-wise; dot products and
  * norms are sequential left folds, which DuckDB's list_sum reproduces
  * bit-for-bit (validated against a Python left fold), so cosine values
  * hash-match exactly.
  */
object Similarity {

  /** embeddings with double-cast vector and precomputed L2 norm. */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm",
        sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** IVF-flat top-k: assign corpus rows to argmax-cosine centroid cells,
    * probe the query's `nprobe` nearest cells, exact cosine rerank.
    *
    * @param corpus    (vec_id, v: array<double>, nrm)
    * @param queries   (q_id, qv, qn)
    * @param centroids (c_id, cv, cn) — broadcastable
    * @return (q_id, rank, n_id, cos), rank 1..k, self-matches excluded
    *
    * Scale shape: assignment is a crossJoin against the broadcast
    * centroid set folded by ONE map-side-combined max_by aggregate (no
    * window over the corpus); candidates come from an equi-join on cell
    * id, so the corpus shuffles once on c_id and only the probe rows
    * fan out nprobe-fold.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val cents = broadcast(centroids)
    val cell = corpus.crossJoin(cents)
      .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("c_id"), col("v"), col("nrm")),
        struct(col("csim"), (-col("c_id")).as("nc"))).as("b"))
      .select(col("vec_id").as("n_id"), col("b.c_id").as("c_id"),
        col("b.v").as("nv"), col("b.nrm").as("nn"))
    val wq = Window.partitionBy("q_id").orderBy(col("qsim").desc, col("c_id"))
    val probes = queries.crossJoin(cents)
      .withColumn("qsim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select("q_id", "qv", "qn", "c_id")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    probes.join(cell, Seq("c_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "cos")
  }

  /** Lloyd's-trained IVF centroids via MLlib KMeans (k-means|| init,
    * fixed seed): the production way to pick cells — trained centers
    * adapt to the corpus's actual density instead of sampling fixed rows,
    * which balances cell sizes (bounding the candidate fan-in per probe)
    * and raises recall at a given nprobe on clustered corpora.
    *
    * Spec-gated rather than oracle-gated: the fit is an iterative
    * distributed aggregation whose float summation order is not
    * reproducible in DuckDB SQL; SimilaritySpec asserts the recall
    * property instead ([[ivfTopK]] consumes the result identically
    * either way).
    *
    * @param corpus (vec_id, v: array<double>, nrm)
    * @return (c_id, cv, cn) — broadcastable, k rows
    */
  def trainCentroids(corpus: DataFrame, k: Int, maxIter: Int = 20,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val model = new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed)
      .fit(corpus.select(array_to_vector(col("v")).as("features")))
    val spark = corpus.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }
      .toDF("c_id", "cv")
      .withColumn("cn", sqrt(aggregate(transform(col("cv"), x => x * x),
        lit(0.0), (a, x) => a + x)))
  }


  val defs: Seq[QueryDef] = Seq(

    // ---- brute-force cosine top-5 for query vectors (vec_id < 8)
    QueryDef(
      "q40_cosine_topk",
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        val n = e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
        broadcast(q).crossJoin(n)
          .filter(col("q_id") =!= col("n_id"))
          .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select("q_id", "rank", "n_id", "cos")
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |n AS (SELECT vec_id, v,
             |        sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
             |p AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             |        list_sum(list_transform(generate_series(1, 64),
             |          i -> q.v[i] * t.v[i])) / (q.nrm * t.nrm) AS cos
             |      FROM n q JOIN n t ON q.vec_id < 8 AND q.vec_id <> t.vec_id)
             |SELECT q_id, rank, n_id, cos FROM (
             |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
             |  FROM p) t
             |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // ---- sign-LSH bucketed ANN: equi-join on 12-bit sign bucket, top-3
    QueryDef(
      "q41_ann_bucketed",
      (s, dir) => {
        val bucket = array_join(
          transform(sequence(lit(1), lit(12), lit(1)),
            i => when(element_at(col("v"), i) >= 0, "1").otherwise("0")), "")
        val e = emb(s, dir).withColumn("bucket", bucket)
        val q = e.filter(col("vec_id") < 32)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qn"), col("bucket").as("qb"))
        val n = e.select(col("vec_id").as("n_id"), col("v").as("nv"),
          col("nrm").as("nn"), col("bucket").as("nb"))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
        q.join(n, col("qb") === col("nb") && col("q_id") =!= col("n_id"))
          .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("q_id", "rank", "n_id", "cos")
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |n AS (SELECT vec_id, v,
             |        sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm,
             |        array_to_string(list_transform(generate_series(1, 12),
             |          i -> CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
             |      FROM e),
             |p AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             |        list_sum(list_transform(generate_series(1, 64),
             |          i -> q.v[i] * t.v[i])) / (q.nrm * t.nrm) AS cos
             |      FROM n q JOIN n t
             |        ON q.bucket = t.bucket AND q.vec_id < 32 AND q.vec_id <> t.vec_id)
             |SELECT q_id, rank, n_id, cos FROM (
             |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
             |  FROM p) t
             |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    // ---- IVF-flat ANN: 16 fixed centroid rows, nprobe=4, top-3
    QueryDef(
      "q42_ann_ivf",
      (s, dir) => {
        val e = emb(s, dir)
        val cents = e.filter(col("vec_id") >= 100 && col("vec_id") < 116)
          .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
        val q = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        ivfTopK(e, q, cents, nprobe = 4, k = 3)
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |n AS (SELECT vec_id, v,
             |        sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
             |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
             |      WHERE vec_id >= 100 AND vec_id < 116),
             |asg AS (SELECT n.vec_id, n.v, n.nrm, c_id,
             |          row_number() OVER (PARTITION BY n.vec_id ORDER BY
             |            list_sum(list_transform(generate_series(1,64),
             |              i -> n.v[i]*c.cv[i]))/(n.nrm*c.cn) DESC, c_id) AS crank
             |        FROM n CROSS JOIN c),
             |cell AS (SELECT vec_id, v, nrm, c_id FROM asg WHERE crank = 1),
             |probes AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, c_id
             |           FROM asg WHERE vec_id < 8 AND crank <= 4),
             |cand AS (SELECT p.q_id, t.vec_id AS n_id,
             |    list_sum(list_transform(generate_series(1,64),
             |      i -> p.qv[i]*t.v[i]))/(p.qn*t.nrm) AS cos
             |  FROM probes p JOIN cell t ON p.c_id = t.c_id AND p.q_id <> t.vec_id)
             |SELECT q_id, rank, n_id, cos FROM (
             |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
             |  FROM cand) t
             |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    // ---- embedding-cosine near-dup pairs, bucketed by sign-LSH: the
    //      embedding-space flavor of the dedup family (q34-q37). Pairs
    //      come only from docs sharing an 8-bit sign bucket (equi-join,
    //      one shuffle, no crossJoin) and survive at cosine >= 0.4.
    //      At 100 TB the bucket key bounds pair generation exactly like
    //      the shingle/band indexes; a production near-dup pass would
    //      chain multiple hash tables for recall, which composes as
    //      additional union'd bucket columns.
    QueryDef(
      "q43_embed_neardup",
      (s, dir) => {
        val bucket = array_join(
          transform(sequence(lit(1), lit(8), lit(1)),
            i => when(element_at(col("v"), i) >= 0, "1").otherwise("0")), "")
        val e = emb(s, dir).withColumn("bucket", bucket)
        val a = e.select(col("vec_id").as("d1"), col("v").as("v1"),
          col("nrm").as("n1"), col("bucket").as("b1"))
        val b = e.select(col("vec_id").as("d2"), col("v").as("v2"),
          col("nrm").as("n2"), col("bucket").as("b2"))
        a.join(b, col("b1") === col("b2") && col("d1") < col("d2"))
          .withColumn("cos", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
          .filter(col("cos") >= 0.4)
          .select("d1", "d2", "cos")
          .orderBy("d1", "d2")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |n AS (SELECT vec_id, v,
             |        sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm,
             |        array_to_string(list_transform(generate_series(1, 8),
             |          i -> CASE WHEN v[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
             |      FROM e),
             |p AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
             |        list_sum(list_transform(generate_series(1, 64),
             |          i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
             |      FROM n a JOIN n b
             |        ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
             |SELECT d1, d2, cos FROM p WHERE cos >= 0.4
             |ORDER BY d1, d2""".stripMargin)),

    /* Quantized ANN: int8 symmetric per-vector quantization (q_i =
     * round(v_i * 127 / max|v|)) for candidate PRE-RANKING, exact
     * double-precision re-rank of the top-m survivors. The scale story
     * is memory bandwidth: the scanned/shuffled corpus representation is
     * 4x smaller than float32 (16x smaller than the double working
     * form), which at 100 TB is the difference between an in-memory ANN
     * sweep and a spill — and the full-precision vectors are touched
     * only for q×m candidate rows via a join back to the corpus by id.
     *
     * Determinism: the approx score is a ratio of exact int64 quantities
     * (integer dot product; norms are integer sums under one sqrt), and
     * every (vector, scale) pair derives from one double multiply +
     * round — Spark HALF_UP ≡ DuckDB half-away-from-zero (the q73
     * equivalence) — so the candidate ORDER is cross-engine exact, and
     * the final ranking re-ranks with the same left-fold cosine as q40.
     * m = 32 >> k = 5 absorbs quantization rank noise; the recall-vs-q40
     * property is spec-asserted, the machinery is oracle-exact.
     */
    QueryDef(
      "q79_ann_quantized",
      (s, dir) => {
        val e = emb(s, dir)
        val qz = e
          .withColumn("mx",
            aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
          .withColumn("q8",
            transform(col("v"), x => round(x * lit(127.0) / col("mx")).cast("long")))
          .withColumn("qn8",
            sqrt(aggregate(transform(col("q8"), x => (x * x).cast("double")),
              lit(0.0), (a, x) => a + x)))
        val idot = (a: Column, b: Column) =>
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
        val q = qz.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("q8").as("qq8"), col("qn8").as("qqn"))
        val n = qz.select(col("vec_id").as("n_id"), col("q8").as("nq8"),
          col("qn8").as("nqn"))
        val wPre = Window.partitionBy("q_id")
          .orderBy(col("approx").desc, col("n_id"))
        val cands = broadcast(q).crossJoin(n)
          .filter(col("q_id") =!= col("n_id"))
          .withColumn("approx",
            idot(col("qq8"), col("nq8")).cast("double") / (col("qqn") * col("nqn")))
          .withColumn("prerank", row_number().over(wPre))
          .filter(col("prerank") <= 32)
          .select("q_id", "n_id")
        // exact re-rank touches only q×m full-precision rows
        val full = e.select(col("vec_id"), col("v"), col("nrm"))
        val wK = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
        cands
          .join(full.select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qn")), "q_id")
          .join(full.select(col("vec_id").as("n_id"), col("v").as("nv"),
            col("nrm").as("nn")), "n_id")
          .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .withColumn("rank", row_number().over(wK))
          .filter(col("rank") <= 5)
          .select("q_id", "rank", "n_id", "cos")
          .orderBy("q_id", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |n AS (SELECT vec_id, v,
             |        sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
             |qz AS (SELECT vec_id, v, nrm,
             |         list_transform(v, x -> CAST(round(x * 127.0 /
             |           list_reduce(list_transform(v, y -> abs(y)),
             |                       (a, b) -> greatest(a, b))) AS BIGINT)) AS q8
             |       FROM n),
             |qn AS (SELECT vec_id, v, nrm, q8,
             |         sqrt(list_sum(list_transform(q8,
             |           x -> CAST(x*x AS DOUBLE)))) AS qn8 FROM qz),
             |pre AS (SELECT q.vec_id AS q_id, t.vec_id AS n_id,
             |          CAST(list_sum(list_transform(generate_series(1, 64),
             |            i -> q.q8[i] * t.q8[i])) AS DOUBLE)
             |            / (q.qn8 * t.qn8) AS approx
             |        FROM qn q JOIN qn t ON q.vec_id < 8 AND q.vec_id <> t.vec_id),
             |cand AS (SELECT q_id, n_id FROM (
             |           SELECT *, row_number() OVER (PARTITION BY q_id
             |             ORDER BY approx DESC, n_id) AS prerank FROM pre) t
             |         WHERE prerank <= 32),
             |rr AS (SELECT c.q_id, c.n_id,
             |         list_sum(list_transform(generate_series(1, 64),
             |           i -> q.v[i] * t.v[i])) / (q.nrm * t.nrm) AS cos
             |       FROM cand c
             |       JOIN n q ON q.vec_id = c.q_id
             |       JOIN n t ON t.vec_id = c.n_id)
             |SELECT q_id, rank, n_id, cos FROM (
             |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
             |  FROM rr) t
             |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    /* Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
     * corpus in embedding space, then prune near-duplicate pairs WITHIN
     * each cluster only — the clustering bounds pair generation exactly
     * like the shingle/band indexes bound q36, so the quadratic step is
     * per-cell, never per-corpus. Cells reuse q42's fixed centroid rows
     * and argmax-cosine assignment (one broadcast crossJoin folded by a
     * map-side-combined max_by — no window over the corpus); the
     * within-cell pair join is a renamed-projection self-join on cell id
     * (one shuffle, and the aliased-self-join hazard class this round
     * retired cannot arise). The keep rule is deterministic one-shot
     * keep-first: a row is removed iff some SMALLER id in its cell sits
     * at cosine >= tau — the non-iterative pruning SemDeDup itself uses
     * (transitive chains stay, matching the paper's per-pair semantics).
     *
     * Scale: at 100 TB the fixed rows become trainCentroids' k-means
     * cells and tau comes from a held-out sweep; machinery is identical.
     */
    QueryDef(
      "q89_semantic_dedup",
      (s, dir) => {
        val e = emb(s, dir)
        val cents = e.filter(col("vec_id") >= 100 && col("vec_id") < 116)
          .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
        // pinned: THREE consumers (both sides of the within-cell
        // self-join + the final join-back) — lazy, the broadcast
        // centroid assignment (crossJoin + max_by aggregate) ran
        // once per consumer (the q104 rule)
        val assigned = Pin(e.crossJoin(broadcast(cents))
          .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("c_id"), col("v"), col("nrm")),
            struct(col("csim"), (-col("c_id")).as("nc"))).as("b"))
          .select(col("vec_id"), col("b.c_id").as("c_id"),
            col("b.v").as("v"), col("b.nrm").as("nrm")), "q89:assignment")
        val a = assigned.select(col("vec_id").as("d1"), col("v").as("v1"),
          col("nrm").as("n1"), col("c_id").as("c1"))
        val b = assigned.select(col("vec_id").as("d2"), col("v").as("v2"),
          col("nrm").as("n2"), col("c_id").as("c2"))
        val removed = a.join(b, col("c1") === col("c2") && col("d1") < col("d2"))
          .withColumn("cos",
            aggregate(zip_with(col("v1"), col("v2"), (x, y) => x * y),
              lit(0.0), (acc, x) => acc + x) / (col("n1") * col("n2")))
          .filter(col("cos") >= 0.3)
          .groupBy(col("d2").as("vec_id"))
          .agg(min(col("d1")).as("dup_of"))
        assigned.select(col("vec_id"), col("c_id"))
          .join(removed, Seq("vec_id"), "left")
          .select(col("vec_id"), col("c_id"), col("dup_of"),
            col("dup_of").isNull.as("kept"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |n AS (SELECT vec_id, v,
             |        sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
             |c AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
             |      WHERE vec_id >= 100 AND vec_id < 116),
             |asg AS (SELECT n.vec_id, n.v, n.nrm, c_id,
             |          row_number() OVER (PARTITION BY n.vec_id ORDER BY
             |            list_sum(list_transform(generate_series(1,64),
             |              i -> n.v[i]*c.cv[i]))/(n.nrm*c.cn) DESC, c_id) AS crank
             |        FROM n CROSS JOIN c),
             |cell AS (SELECT vec_id, v, nrm, c_id FROM asg WHERE crank = 1),
             |removed AS (
             |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
             |  FROM cell a JOIN cell b
             |    ON a.c_id = b.c_id AND a.vec_id < b.vec_id
             |   AND list_sum(list_transform(generate_series(1,64),
             |         i -> a.v[i]*b.v[i]))/(a.nrm*b.nrm) >= 0.3
             |  GROUP BY 1)
             |SELECT g.vec_id, g.c_id, r.dup_of, r.dup_of IS NULL AS kept
             |FROM cell g LEFT JOIN removed r USING (vec_id)
             |ORDER BY g.vec_id""".stripMargin))
  )
}
