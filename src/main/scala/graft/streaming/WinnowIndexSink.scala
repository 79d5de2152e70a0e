package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{FpIndex, Winnow}

/** Continuous-ingest char-level exact-substring dedup — the streaming
  * twin of q112's maintenance loop, against the SAME persisted bucketed
  * fingerprint index ([[graft.operators.FpIndex]]) the batch path uses.
  * With this sink the char-dedup family has the same three surfaces as
  * the band/bloom layers: corpus query (q107/q108), incremental batch
  * loop (q112), continuous stream (here) — detect AND apply: per
  * micro-batch of (doc_id, text), probe the batch's winnowed
  * fingerprints for spans already present in history or in an earlier
  * batch doc ([[FpIndex.probeSpans]]), SPLICE those spans out
  * ([[Winnow.spliceClean]] — the exact q108 apply), commit the cleaned
  * docs as a versioned log, and append the batch's fingerprints so the
  * next batch sees this one as history. Per-batch cost is O(batch) —
  * the index is read, never re-winnowed.
  *
  * Exactly-once with [[IngestDedupSink]]'s seam, closed the same way:
  * the fingerprint append and the log commit cannot be made atomic
  * together, so a crash BETWEEN them leaves the batch's own
  * fingerprints in the index when the batch replays. Two properties
  * make the replay emit byte-identical cleaned docs anyway:
  *
  *  - the probe excludes the batch's own ids from the history leg
  *    (`excludeBatchFromHistory`), so a half-committed previous
  *    attempt is invisible to it;
  *  - both probe legs reduce through DISTINCT (doc_id, pos) hits, so
  *    the double append the replay then performs (duplicate
  *    fingerprint rows) can never change any later batch's spans
  *    either.
  *
  * The log commits through [[VersionedPointer]]; a replay of a
  * fully-committed batch is skipped by the
  * pointer gate before touching anything. The index is at-least-once
  * storage with idempotent read semantics — [[IngestDedupSink]]'s
  * documented contract, verbatim.
  */
object WinnowIndexSink {

  /** The cleaned-doc log (doc_id, n_spans, n_chars_removed,
    * clean_text, batch_id).
    */
  val Log: SinkLog = SinkLog(StructType(Seq(StructField("doc_id", LongType),
    StructField("n_spans", LongType),
    StructField("n_chars_removed", LongType),
    StructField("clean_text", StringType),
    StructField("batch_id", LongType))))

  /** All committed cleaned docs up to the pointer. */
  def cleanedDocs(spark: SparkSession, dir: String): DataFrame =
    Log.history(spark, dir)

  /** Apply one micro-batch of (doc_id, text); false iff already applied. */
  def applyBatch(batch: DataFrame, batchId: Long, indexName: String,
      outDir: String,
      epoch: Option[String] = None): Boolean =
    Log.serve(outDir, batchId, epoch) {
      val spark = batch.sparkSession
      val docs = batch.select("doc_id", "text")
      // keep the probe's pinned winnow rows and append THEM — the
      // append otherwise re-winnows the batch the probe just paid for
      val (spans0, bfp) = FpIndex.probeSpans(spark, indexName, docs,
        excludeBatchFromHistory = true)
      val spans = spans0
        .select(col("doc_id"), col("span_start").as("s"),
          col("span_end").as("e"))
      // probeSpans eagerly pins its (small) span result, so the splice
      // below reads only the stable batch source + the pinned spans —
      // the append cannot perturb it; both pins are released when the
      // scope closes, so no batch-sized state outlives this call
      val out = Winnow.spliceClean(
          docs.select(col("doc_id"), trim(col("text")).as("tx")), spans)
        .withColumn("batch_id", lit(batchId))
      FpIndex.appendRows(spark, indexName, bfp)
      Seq(out)
    }

  /** Attach to a (doc_id, text) stream. The index must exist —
    * `FpIndex.Layout.initIndex` for a cold start, or [[FpIndex.buildIndex]]
    * over an existing corpus to seed history.
    */
  def attach(docs: DataFrame, indexName: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(docs, checkpointDir) { (batch, batchId, epoch) =>
      applyBatch(batch, batchId, indexName, outDir, epoch)
    }
}
