package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{PostingsIndex, Retrieval}

/** [[HybridServeSink]] — the streamed hybrid results must equal the
  * fusion of the two INDEXED legs computed directly (each leg is
  * oracle-certified on its own: q91's probe, q117's probe; the fusion
  * is q90's shared function), and the pointer-protocol legs must hold.
  */
class HybridServeSinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** q90's query set lifted to the stream shape: q_ids 1–3 with their
    * QueryTerms and the matching corpus embeddings.
    */
  private def queryRows() = {
    val terms = Retrieval.QueryTerms.groupBy(_._1).toSeq
      .map { case (q, ts) => (q, ts.map(_._2)) }
      .toDF("q_id", "terms")
    graft.core.Tables(spark, sf0001, "embeddings")
      .filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("q_id"), col("embedding"))
      .join(terms, "q_id")
      .select("q_id", "terms", "embedding")
  }

  private type Row6 = (Long, Int, Long, Option[Int], Option[Int], Long)

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Row6] =
    df.select("q_id", "rank", "doc_id", "lex_rank", "sem_rank", "rrf_micro")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        if (r.isNullAt(4)) None else Some(r.getInt(4)),
        r.getLong(5)))
      .toSeq.sortBy(t => (t._1, t._2))

  /** The decomposition target: rrfFuse over the two indexed legs,
    * computed directly with the sink's own leg functions.
    */
  private def direct(): Seq[Row6] = {
    val lex = Retrieval.lexRanks(
      PostingsIndex.probeScores(spark, sf0001, Retrieval.QueryTerms))
    val sem = HybridServeSink.semLeg(spark, sf0001,
      queryRows().select("q_id", "embedding"))
    canon(Retrieval.rrfFuse(lex, sem))
  }

  test("streamed hybrid equals the fused indexed legs; replay skips") {
    val dir = tmp("graft-hybridserve")
    val qs = queryRows()
    assert(HybridServeSink.applyBatch(
      qs.filter(col("q_id") === 1), 0L, sf0001, dir))
    assert(HybridServeSink.applyBatch(
      qs.filter(col("q_id") > 1), 1L, sf0001, dir))
    val got = canon(HybridServeSink.results(spark, dir))
    val want = direct()
    assert(got == want,
      s"streamed hybrid must equal the direct fusion (${got.size} vs ${want.size})")
    assert(got.map(_._1).distinct.size == 3)
    // both legs genuinely contribute: some fused rows carry only a
    // lexical rank, some only a semantic rank
    assert(got.exists(r => r._4.isDefined && r._5.isEmpty))
    assert(got.exists(r => r._4.isEmpty && r._5.isDefined))
    // replay of a served batch: skipped, results unchanged
    assert(!HybridServeSink.applyBatch(
      qs.filter(col("q_id") === 1), 0L, sf0001, dir))
    assert(canon(HybridServeSink.results(spark, dir)) == want)
    graft.core.Lake.deleteTree(dir)
  }

  test("crash window: orphan version dir invisible, then recomputed") {
    val dir = tmp("graft-hybridserve-crash")
    val qs = queryRows()
    assert(HybridServeSink.applyBatch(
      qs.filter(col("q_id") === 1), 0L, sf0001, dir))
    val committed = canon(HybridServeSink.results(spark, dir))
    Seq((999L, 1, 999L, 1, 1, 9L, 1L))
      .toDF("q_id", "rank", "doc_id", "lex_rank", "sem_rank",
        "rrf_micro", "batch_id")
      .write.mode("overwrite").parquet(s"$dir/v=1")
    assert(VersionedPointer.latest(dir).contains(0L))
    assert(canon(HybridServeSink.results(spark, dir)) == committed,
      "uncommitted junk must be invisible")
    assert(HybridServeSink.applyBatch(
      qs.filter(col("q_id") > 1), 1L, sf0001, dir))
    assert(canon(HybridServeSink.results(spark, dir)) == direct())
    graft.core.Lake.deleteTree(dir)
  }
}
