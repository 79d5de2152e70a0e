package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Ingest-time boilerplate extraction — the streaming form of q120,
  * completing the ingest-hygiene trio beside [[IngestDedupSink]]
  * (near-dup gate) and [[DecontamSink]] (contamination gate) with the
  * markup gate every raw web feed needs FIRST: each micro-batch of
  * (doc_id, text) runs the [[graft.expressions.BoilerplateClean]]
  * native expression per doc (map-side, codegen'd, zero fanout — the
  * q120 plan verbatim), and the per-doc verdicts — cleaned text,
  * per-class line counts, admit = anything survived — land in a
  * versioned decision log. Downstream sinks consume the CLEANED text,
  * exactly the order q115's batch pipeline applies (s0m before s1).
  *
  * Exactly-once is [[DecontamSink]]'s stationary shape taken to its
  * simplest point: the extractor is STATELESS (pure per-doc function,
  * no index, no generation), so each batch's verdicts are a pure
  * function of the batch alone and [[VersionedPointer]] covers replay and the crash window with nothing else to prove.
  *
  * The rule set is q120's by construction — the sink calls the same
  * expression the oracle-gated query calls — so
  * BoilerplateSinkSpec's sink ≡ q120 equivalence extends the DuckDB
  * oracle's reach to this surface by proxy (the q116/q118/AnnServeSink
  * discipline).
  */
object BoilerplateSink {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** The decision log (doc_id, clean_text, n_lines, n_kept,
    * n_short, n_link, n_stop, admit, batch_id).
    */
  val Log: SinkLog = SinkLog(StructType(Seq(
    StructField("doc_id", LongType),
    StructField("clean_text", StringType),
    StructField("n_lines", IntegerType),
    StructField("n_kept", IntegerType),
    StructField("n_short", IntegerType),
    StructField("n_link", IntegerType),
    StructField("n_stop", IntegerType),
    StructField("admit", BooleanType),
    StructField("batch_id", LongType))))

  /** All committed decisions up to the pointer. */
  def decisions(spark: SparkSession, dir: String): DataFrame =
    Log.history(spark, dir)

  /** Extract one micro-batch of (doc_id, text); false iff already
    * applied. `epoch` is the checkpoint-lineage guard
    * ([[VersionedPointer.alreadyServed]]); attach() always passes it.
    */
  def applyBatch(batch: DataFrame, batchId: Long, outDir: String,
      epoch: Option[String] = None): Boolean =
    Log.serve(outDir, batchId, epoch) {
      val spark = batch.sparkSession
      graft.functions.GraftFunctions.register(spark)
      val verdicts = batch.select(docSchema.fieldNames.map(col): _*)
        .select(col("doc_id"),
          call_function("graft_boilerplate_clean", col("text")).as("c"))
        .select(col("doc_id"), col("c.clean_text"), col("c.n_lines"),
          col("c.n_kept"), col("c.n_short"), col("c.n_link"),
          col("c.n_stop"))
        .withColumn("admit", length(col("clean_text")) > 0)
        .withColumn("batch_id", lit(batchId))
        .orderBy("doc_id")
      // coalesce(1): batch-sized decision log (one row per batch doc)
      Seq(verdicts.coalesce(1))
    }

  /** Attach the gate to a (doc_id, text) ingest stream. */
  def attach(docs: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(docs, checkpointDir) { (batch, batchId, epoch) =>
      applyBatch(batch, batchId, outDir, epoch)
    }
}
