package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.Pin
import graft.operators.{Clustering, ClusterIndex, PostingsIndex, Retrieval}

/** Hybrid (lexical + semantic) query serving — surface 21, the fusion
  * column of the serving matrix: a stream of (q_id, terms, embedding)
  * queries answered per micro-batch by BOTH persisted index families
  * and fused with q90's reciprocal-rank rule. Per batch:
  *
  *  - lexical leg: [[graft.operators.PostingsIndex.probeScores]] (q91's
  *    bucket-pruned postings probe) ranked by [[graft.operators
  *    .Retrieval.lexRanks]] — q88 ≡ q91 under one oracle makes this
  *    leg value-identical to q90's full-corpus lexical leg;
  *  - semantic leg: [[graft.operators.Clustering.annProbeFrom]] (q117's
  *    probe over the persisted cluster index + frozen `_CENTROIDS`) at
  *    k=20 — the IVF approximation of q90's exact semantic leg, the
  *    documented serving trade (nprobe cells per query, bounded
  *    cell-id collect, bucket-pruned candidate scan);
  *  - fusion: [[graft.operators.Retrieval.rrfFuse]] — the EXACT
  *    function q90 runs, so the fusion rule is oracle-gated through
  *    q90 and cannot drift between batch and stream.
  *
  * HybridServeSinkSpec pins the decomposition: streamed results ≡
  * rrfFuse(indexed lexical leg, indexed semantic leg) computed
  * directly — each leg is itself certified (q91's oracle; q117's
  * oracle via AnnServeSink's shared probe), so the sink's only own
  * logic is the composition, and that is the shared function.
  *
  * Exactly-once: both indexes are STATIONARY per corpus generation
  * (serving never mutates them), so results are a pure function of
  * (generations, batch) and [[VersionedPointer]] covers replay, crash,
  * and checkpoint-reset windows — the AnnServeSink/Bm25ServeSink shape.
  *
  * The 100-TB shape: per batch one bounded term collect (the postings
  * bucket-pruning literal), one K-row centroid broadcast + bounded
  * cell-id collect, two bucket-pruned scans, and a batch-sized fusion
  * join — per-query cost tracks postings-of-terms + nprobe cells,
  * never the corpus.
  */
object HybridServeSink {

  val querySchema: StructType = StructType(Seq(
    StructField("q_id", LongType),
    StructField("terms", ArrayType(StringType)),
    StructField("embedding", ArrayType(FloatType))))

  /** The result log (q_id, rank, doc_id, lex_rank, sem_rank,
    * rrf_micro, batch_id).
    */
  val Log: SinkLog = SinkLog(StructType(Seq(
    StructField("q_id", LongType),
    StructField("rank", IntegerType),
    StructField("doc_id", LongType),
    StructField("lex_rank", IntegerType),
    StructField("sem_rank", IntegerType),
    StructField("rrf_micro", LongType),
    StructField("batch_id", LongType))))

  /** All committed results up to the pointer. */
  def results(spark: SparkSession, dir: String): DataFrame =
    Log.history(spark, dir)

  /** The semantic leg of one batch: q117's probe at k=20, lifted to
    * (q_id, doc_id, sem_rank) — shared by [[applyBatch]] and the
    * equivalence spec so the leg's shape is stated once.
    */
  private[streaming] def semLeg(spark: SparkSession, corpusDir: String,
      queries: DataFrame): DataFrame =
    Clustering.annProbeFrom(spark,
        ClusterIndex.ensure(spark, corpusDir),
        ClusterIndex.centroids(spark, corpusDir),
        Clustering.annQueriesOf(queries), k = 20)
      .select(col("q_id"), col("n_id").as("doc_id"),
        col("rank").as("sem_rank"))

  /** Answer one micro-batch of (q_id, terms, embedding); false iff
    * already served. `epoch` is the checkpoint-lineage guard.
    */
  def applyBatch(batch: DataFrame, batchId: Long, corpusDir: String,
      outDir: String, epoch: Option[String] = None): Boolean =
    Log.serve(outDir, batchId, epoch) {
      val spark = batch.sparkSession
      val b = Pin(batch.select(querySchema.fieldNames.map(col): _*),
        "HybridServeSink.queries")
      // bounded driver-side collect: the term set is the postings
      // bucket-pruning literal (batch-sized by construction)
      val queryTerms = b
        .select(col("q_id"), explode(col("terms")).as("term"))
        .distinct().collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      val lex = Retrieval.lexRanks(
        PostingsIndex.probeScores(spark, corpusDir, queryTerms))
      val sem = semLeg(spark, corpusDir, b.select("q_id", "embedding"))
      val fused = Retrieval.rrfFuse(lex, sem)
        .withColumn("batch_id", lit(batchId))
        .orderBy("q_id", "rank")
      // coalesce(1): batch-sized (≤ 10 rows per query), a decision log
      Seq(fused.coalesce(1))
    }

  /** Attach the server to a (q_id, terms, embedding) query stream. */
  def attach(queries: DataFrame, corpusDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(queries, checkpointDir) { (batch, batchId, epoch) =>
      applyBatch(batch, batchId, corpusDir, outDir, epoch)
    }
}
