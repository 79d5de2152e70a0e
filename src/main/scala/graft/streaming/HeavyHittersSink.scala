package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.Pin
import graft.operators.SketchExact

/** Continuously-maintained frequent-bigram candidates — the streaming
  * twin of q96's Misra-Gries pass, built on the MERGEABILITY of MG
  * summaries (Agarwal, Cormode, Huang, Phillips, Wei, Yi — "Mergeable
  * Summaries", PODS'12): add counters key-wise, subtract the (k+1)-th
  * largest combined count from everything, drop the non-positive.
  * The merged summary keeps the MG bound — for every key,
  * stored ≤ true ≤ stored + err with err = (total − Σstored)/(k+1) —
  * under ANY sequence of merges, so per micro-batch cost is
  * O(batch + k): the batch's exact counts (a map-side-combined
  * groupBy over just-arrived rows) fold into the ≤k-row persisted
  * summary, and the (k+1)-th-largest cut is a TakeOrdered over
  * batch-vocabulary rows. No history rescan, ever.
  *
  * What the state can and cannot claim — stated precisely because an
  * exact streaming heavy-hitter set at O(batch) is information-
  * theoretically impossible without a vocabulary-sized table:
  *  - [[candidates]] returns every stored key with its certified
  *    bounds [cnt, cnt + err]; with k ≥ 1/φ the gate
  *    `(cnt+err)·10⁴ ≥ φ10k·total` passes a guaranteed SUPERSET of
  *    the true heavy set (an absent key has true ≤ err < φ·total).
  *  - [[certify]] restores exactness on demand: one broadcast
  *    semi-join recount of the ≤k candidate keys over the corpus —
  *    the q96 recount, amortized to "when you need the exact answer"
  *    instead of every batch. The spec proves certify ≡ the q96-style
  *    exact recompute after every batch.
  *
  * Exactly-once: [[VersionedPointer]] — summary parquet and `_TOTAL`
  * are both inside `v=<batchId>`, written before the pointer moves, so
  * a replayed or crash-window batch recomputes byte-identical state
  * into the same slot (the merge is a pure function of (pointer state, batch);
  * no RNG, value-based cut, deterministic tie handling: keys whose
  * combined count equals the cut value drop to zero and out).
  */
object HeavyHittersSink {

  /** Counter budget and threshold — q96's constants: k ≥ 1/φ. */
  val K = 667
  val Phi10k = 15L

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** The state: the MG summary (bg, cnt) under `v=N/summary`, beside
    * the `_TOTAL` bigram count the batch body writes.
    */
  val Log: SinkLog = SinkLog(StructType(Seq(
    StructField("bg", StringType),
    StructField("cnt", LongType))), leaf = Some("summary"))

  /** (summary frame (bg, cnt), total bigrams ingested). */
  def state(spark: SparkSession, dir: String): (DataFrame, Long) =
    (Log.current(spark, dir), VersionedPointer.latest(dir).fold(0L)(v =>
      graft.core.Lake.readString(s"$dir/v=$v/_TOTAL").trim.toLong))

  /** MG undercount bound for the current state, rounded UP so the
    * emitted upper bounds stay conservative.
    */
  def errOf(summedCnt: Long, total: Long): Long =
    (total - summedCnt + K) / (K + 1)

  /** Stored keys with certified bounds: (bg, cnt_low, cnt_high, total).
    * The true heavy set is always a subset of the rows passing
    * `cnt_high * 10000 >= Phi10k * total`.
    */
  def candidates(spark: SparkSession, dir: String): DataFrame = {
    val (summary, total) = state(spark, dir)
    val summed = summary.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    val err = errOf(summed, total)
    summary.select(col("bg"), col("cnt").as("cnt_low"),
      (col("cnt") + lit(err)).as("cnt_high"), lit(total).as("total"))
  }

  /** Exact heavy set over `corpus` (the ingested docs so far): recount
    * ONLY the stored candidate keys — broadcast semi-join, then the
    * q96 integer gate against the state's running total.
    */
  def certify(spark: SparkSession, dir: String, corpus: DataFrame): DataFrame = {
    val (summary, total) = state(spark, dir)
    SketchExact.bigramsOf(corpus.select(col("text")))
      .join(broadcast(summary.select("bg")), Seq("bg"), "left_semi")
      .groupBy("bg").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(10000L) >= lit(Phi10k) * lit(total))
      .select("bg", "cnt")
  }

  /** Apply one micro-batch; false iff skipped as already applied. */
  def applyBatch(batch: DataFrame, batchId: Long, dir: String,
      epoch: Option[String] = None): Boolean =
    Log.serve(dir, batchId, epoch) {
      val spark = batch.sparkSession
      val (prior, priorTotal) = state(spark, dir)
      val bgs = SketchExact.bigramsOf(
        batch.select(docSchema.fieldNames.map(col): _*))
      val batchCounts = Pin(bgs.groupBy("bg").agg(count(lit(1)).as("cnt")),
        "HeavyHittersSink.counts")
      val batchN = batchCounts.agg(coalesce(sum("cnt"), lit(0L)))
        .head().getLong(0)
      val merged = prior.unionByName(batchCounts)
        .groupBy("bg").agg(sum("cnt").as("cnt"))
      // the (k+1)-th largest combined count (0 when ≤ k keys): a
      // TakeOrdered over batch-vocabulary rows, never the corpus
      val topK1 = merged.orderBy(col("cnt").desc, col("bg")).limit(K + 1)
      val cut =
        if (topK1.count() <= K) 0L
        else topK1.agg(min("cnt")).head().getLong(0)
      val next = merged.filter(col("cnt") > lit(cut))
        .select(col("bg"), (col("cnt") - lit(cut)).as("cnt"))
        .orderBy("bg")
      graft.core.Lake.writeString(s"$dir/v=$batchId/_TOTAL",
        (priorTotal + batchN).toString)
      // coalesce(1): bounded state — the summary holds at most MgK counter rows
      Seq(next.coalesce(1))
    }

  /** Attach the sink to a (doc_id, text) ingest stream. */
  def attach(docs: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(docs, checkpointDir) { (batch, batchId, epoch) =>
      applyBatch(batch, batchId, stateDir, epoch)
    }
}
