package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{PostingsIndex, Retrieval}

/** Streaming BM25 serving — [[AnnServeSink]]'s shape at the LEXICAL
  * retrieval layer (surface 19), closing the serving matrix: every
  * retrieval family (ANN, BM25) now has batch (q91/q117) AND
  * query-stream forms. A stream of (q_id, terms) queries is answered
  * per micro-batch against the PERSISTED term-bucketed postings index
  * and its (n_docs, sum_dl, dfreq) sidecars: each batch runs
  * [[graft.operators.PostingsIndex.probeScores]] + [[graft.operators
  * .Retrieval.top5]] — q91's EXACT call chain (bucket-pruned postings
  * probe on the query-term IN literal, vocabulary-sized sidecar joins
  * broadcast, integer micro-unit scoring, (bm25_micro DESC, doc_id)
  * ranking) — so batch serving and the stream CANNOT drift, and the
  * DuckDB oracle gating q88≡q91 reaches this surface by proxy
  * (Bm25ServeSinkSpec pins streamed top-k ≡ q91 on the same queries).
  *
  * Exactly-once is [[DecontamSink]]/[[AnnServeSink]]'s stationary
  * shape: the postings generation is immutable per corpus (serving
  * never appends), so results are a pure function of (generation,
  * batch) and [[VersionedPointer]] covers replay, crash, and
  * checkpoint-reset windows.
  *
  * The 100-TB shape: per micro-batch the driver pays one bounded
  * query-term collect (≤ batch terms — the AnnServeSink Q·nprobe
  * rule: the term list IS the bucket-pruning literal, so it must be a
  * driver-side value) and the executors one bucket-pruned postings
  * scan of the query terms' buckets — per-query serving cost tracks
  * postings-of-query-terms, not the corpus.
  */
object Bm25ServeSink {

  val querySchema: StructType = StructType(Seq(
    StructField("q_id", LongType),
    StructField("terms", ArrayType(StringType))))

  /** The result log (q_id, rank, doc_id, n_hit, bm25_micro,
    * batch_id).
    */
  val Log: SinkLog = SinkLog(StructType(Seq(
    StructField("q_id", LongType),
    StructField("rank", IntegerType),
    StructField("doc_id", LongType),
    StructField("n_hit", LongType),
    StructField("bm25_micro", LongType),
    StructField("batch_id", LongType))))

  /** All committed results up to the pointer. */
  def results(spark: SparkSession, dir: String): DataFrame =
    Log.history(spark, dir)

  /** Answer one micro-batch of (q_id, terms) against the persisted
    * postings index for `corpusDir`; false iff already served. `epoch`
    * is the checkpoint-lineage guard; attach() always passes it.
    */
  def applyBatch(batch: DataFrame, batchId: Long, corpusDir: String,
      outDir: String, epoch: Option[String] = None): Boolean =
    Log.serve(outDir, batchId, epoch) {
      val spark = batch.sparkSession
      // the bounded driver-side collect: the term set is the bucket
      // pruning IN literal (batch-sized by construction — queries, not
      // corpus; the AnnServeSink cell-id rule)
      val queryTerms = batch.select(querySchema.fieldNames.map(col): _*)
        .select(col("q_id"), explode(col("terms")).as("term"))
        .distinct().collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      val topk = Retrieval.top5(
          PostingsIndex.probeScores(spark, corpusDir, queryTerms))
        .withColumn("batch_id", lit(batchId))
        .orderBy("q_id", "rank")
      // coalesce(1): batch-sized (≤ 5 rows per query), a decision log
      Seq(topk.coalesce(1))
    }

  /** Attach the server to a (q_id, terms) query stream. */
  def attach(queries: DataFrame, corpusDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(queries, checkpointDir) { (batch, batchId, epoch) =>
      applyBatch(batch, batchId, corpusDir, outDir, epoch)
    }
}
