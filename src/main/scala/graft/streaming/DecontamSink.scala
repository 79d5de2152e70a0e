package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.Ws
import graft.operators.{BloomIndex, Dedup}

/** Ingest-time benchmark decontamination — the streaming form of
  * q53/q99, closing the ingest-hygiene pair beside [[IngestDedupSink]]
  * (near-dup gate) with the contamination gate: each micro-batch of
  * (doc_id, text) is shingled and probed against the PERSISTED
  * benchmark index ([[graft.operators.BloomIndex]] — bloom prefilter
  * map-side, exact confirm join against the bucketed shingle table,
  * index side exchange-free), and the per-doc verdicts land in a
  * versioned decision log.
  *
  * The exactly-once story is the simplest of the sink family, and
  * deliberately so: the benchmark is STATIONARY (it changes when the
  * eval suite changes, not per batch), so unlike IngestDedupSink there
  * is no index append and no replay seam — each batch's verdicts are a
  * pure function of (benchmark generation, batch), and
  * [[VersionedPointer]] alone makes replay and the crash window
  * byte-identical. The benchmark generation is part of that purity:
  * BloomIndex's `_GRAFT_FP` fingerprint guards staleness, so a
  * benchmark swap between a crash and its replay rebuilds the index
  * and is visible in the verdicts rather than silently mixed.
  *
  * Gate semantics are exactly q53's (containment ≥ 0.2 on distinct
  * word-trigrams) — the spec pins the streamed verdict set against the
  * batch q53 report and the admitted set against q105's applied
  * corpus, so the ingest gate and the batch apply can never drift.
  */
object DecontamSink {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** The decision log (doc_id, n_sh, n_hit, admit, batch_id). */
  val Log: SinkLog = SinkLog(StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_sh", IntegerType),
    StructField("n_hit", LongType),
    StructField("admit", BooleanType),
    StructField("batch_id", LongType))))

  /** All committed decisions up to the pointer. */
  def decisions(spark: SparkSession, dir: String): DataFrame =
    Log.history(spark, dir)

  /** Apply one micro-batch of (doc_id, text) against the benchmark
    * index built from `benchDir`; false iff already applied.
    */
  def applyBatch(batch: DataFrame, batchId: Long, benchDir: String,
      outDir: String,
      epoch: Option[String] = None): Boolean =
    Log.serve(outDir, batchId, epoch) {
      val spark = batch.sparkSession
      val shingled = batch.select(docSchema.fieldNames.map(col): _*)
        .select(col("doc_id"),
          Dedup.shinglesOf(split(trim(col("text")), Ws.Plus)).as("shs"))
      val hits = BloomIndex.probeHitsOf(spark, benchDir, shingled)
      val verdicts = shingled
        .select(col("doc_id"), size(col("shs")).as("n_sh"))
        .join(hits, Seq("doc_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .withColumn("admit", !(col("n_sh") > 0 &&
          col("n_hit").cast("double") / col("n_sh").cast("double") >= 0.2))
        .withColumn("batch_id", lit(batchId))
        .orderBy("doc_id")
      // coalesce(1): batch-sized, not corpus-sized — one verdict row per
      // micro-batch doc; acceptable for a per-batch decision log
      Seq(verdicts.coalesce(1))
    }

  /** Attach the gate to a (doc_id, text) ingest stream. */
  def attach(docs: DataFrame, benchDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(docs, checkpointDir) { (batch, batchId, epoch) =>
      applyBatch(batch, batchId, benchDir, outDir, epoch)
    }
}
