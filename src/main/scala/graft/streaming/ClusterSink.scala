package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.Pin
import graft.operators.Clustering

/** Continuously-maintained k-means centroids — the streaming twin of
  * q101, in the mini-batch/online form a 100-TB curation pipeline
  * actually runs (Sculley, WWW'10: assign the arriving batch against
  * centroids frozen at batch start, then fold the batch into
  * cumulative per-cluster sums): per micro-batch cost is
  * O(batch · K) map-side assignment plus a K·d-bounded update — no
  * history rescan, because the state carries the EXACT cumulative
  * integer sums (S_j, n_j) per cluster, from which the centroid is
  * re-derived as the round-half-away integer mean after every fold.
  *
  * Semantics stated precisely: this is ONLINE k-means — each point is
  * assigned once, against the centroids current when it arrived, and
  * never reassigned (q101's Lloyd re-visits all points per iteration;
  * at 100 TB that is a per-iteration corpus scan, which is exactly
  * what the online form exists to avoid). The result therefore
  * depends on the BATCH SEQUENCE, and on nothing else: the update is
  * a pure function of (pointer state, batch) with integer-exact
  * arithmetic at any cumulative magnitude (the mean is an integer
  * `DIV`, never a float division that loses exactness past 2^53), so
  * the spec can assert stream ≡ an independent driver-side sequential
  * replay at EQUALITY — and that is also what makes the exactly-once
  * story degenerate to [[UpsertSink]]'s pointer protocol: a replayed
  * or crash-window batch recomputes byte-identical state into the
  * same version slot.
  *
  * Seeding: the first batch's K smallest vec_ids become the centroids
  * (S=0, n=0 — seeds are then assigned like every other point of that
  * batch, one uniform rule).
  */
object ClusterSink {

  val K = 8

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("qv", ArrayType(LongType))))

  def latestVersion(dir: String): Option[Long] = VersionedPointer.latest(dir)

  /** Current state (cid, s, n, cv); None before the first batch. */
  def state(spark: SparkSession, dir: String): Option[DataFrame] =
    latestVersion(dir).map(v => spark.read.parquet(s"$dir/v=$v"))

  /** Current centroids (cid, cv) for assignment/inspection. */
  def centroids(spark: SparkSession, dir: String): Option[DataFrame] =
    state(spark, dir).map(_.select("cid", "cv"))

  /** Apply one micro-batch; false iff skipped as already applied. */
  def applyBatch(batch: DataFrame, batchId: Long, dir: String,
      epoch: Option[String] = None): Boolean = {
    if (VersionedPointer.alreadyServed(dir, batchId, epoch)) false
    else Pin.scope {
      val spark = batch.sparkSession
      graft.core.Lake.mkdirs(dir)
      val vecs = Pin(batch.select(vecSchema.fieldNames.map(col): _*),
        "ClusterSink.vecs")
      val prior = state(spark, dir).getOrElse {
        // seed from this batch's K smallest ids: S=0, n=0, cv=the vector
        vecs.orderBy("vec_id").limit(K)
          .select(col("vec_id").as("cid"),
            transform(col("qv"), _ * lit(0L)).as("s"),
            lit(0L).as("n"), col("qv").as("cv"))
      }
      val asg = Clustering.assign(vecs, prior.select("cid", "cv"))
      val batchSums = asg.select("vec_id", "cid").join(vecs, "vec_id")
        .select(col("cid"), posexplode(col("qv")).as(Seq("i", "x")))
        .groupBy("cid", "i")
        .agg(sum("x").as("bs"), count(lit(1)).as("bn"))
      // fold: explode prior per dimension, add batch sums, re-derive
      // the centroid as an exact integer mean (DIV, not float division)
      val folded = prior
        .select(col("cid"), col("n"),
          posexplode(arrays_zip(col("s"), col("cv"))).as(Seq("i", "z")))
        .select(col("cid"), col("n"), col("i"),
          col("z.s").as("ps"), col("z.cv").as("pc"))
        .join(batchSums, Seq("cid", "i"), "left")
        .select(col("cid"), col("i"),
          (col("ps") + coalesce(col("bs"), lit(0L))).as("ns"),
          (col("n") + coalesce(col("bn"), lit(0L))).as("nn"),
          col("pc"))
        .withColumn("c", expr(
          """CASE WHEN nn = 0 THEN pc
            |     WHEN ns >= 0 THEN (2*ns+nn) DIV (2*nn)
            |     ELSE -((-2*ns+nn) DIV (2*nn)) END""".stripMargin))
      val next = folded.groupBy("cid")
        .agg(
          transform(array_sort(collect_list(struct(col("i"), col("ns")))),
            p => p.getField("ns")).as("s"),
          max(col("nn")).as("n"), // nn is constant within a cid
          transform(array_sort(collect_list(struct(col("i"), col("c")))),
            p => p.getField("c")).as("cv"))
        .orderBy("cid")
      // coalesce(1): bounded state — the frame is exactly K centroid rows
      next.coalesce(1).write.mode("overwrite").parquet(s"$dir/v=$batchId")
      VersionedPointer.commit(dir, batchId, epoch)
      true
    }
  }

  /** Drop state versions older than the `keep` most recent. */
  def vacuum(dir: String, keep: Int): Seq[Long] =
    UpsertSink.vacuum(dir, keep)

  /** Attach the sink to a (vec_id, qv) embedding ingest stream. */
  def attach(vecs: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery = {
    val epoch = VersionedPointer.epochOf(checkpointDir)
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, stateDir, Some(epoch)); ()
      }
      .start()
  }
}
