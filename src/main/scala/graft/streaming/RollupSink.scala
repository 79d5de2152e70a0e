package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Exactly-once streaming rollup maintenance — the streaming twin of
  * q86's incremental-rollup algebra (`operators/Curation.scala`), closing
  * the lambda loop: the SAME change stream that maintains the keyed
  * snapshot ([[UpsertSink]]) also maintains the per-group aggregate
  * (here: per `name`, count + balance cents), by signed deltas only.
  *
  * Per micro-batch the sink computes
  *   minus = contributions of the batch's keys in the PRE-batch snapshot
  *   plus  = contributions of those keys after the merge
  * and applies `old rollup ⊕ (plus − minus)` — cost O(batch keys) +
  * O(groups), never a rescan of the snapshot. Group migration (a key's
  * `name` changing) is handled by construction: its minus lands in the
  * old group, its plus in the new one; a tombstoned key contributes only
  * a minus. Cents are exact integers, so a group whose keys all churn
  * away cancels to exactly zero and is dropped — matching a direct
  * recompute bit-for-bit (RollupSinkSpec asserts equality after every
  * batch).
  *
  * Exactly-once is [[VersionedPointer]]'s, on the rollup's own
  * directory. One subtlety is
  * load-bearing: the pre-batch snapshot is resolved as the newest
  * version STRICTLY BELOW this batchId — NOT the snapshot pointer —
  * because after a crash between the two sinks the snapshot pointer
  * already names this batch, and reading it would double-subtract.
  * Consequence: vacuum the snapshot dir with `keep >= 2` so the
  * previous version survives until the rollup commits.
  */
object RollupSink {

  val rollupSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("n_keys", LongType),
    StructField("cents_total", LongType)))

  /** The rollup table, one version per batch. */
  val Log: SinkLog = SinkLog(rollupSchema)

  /** Newest snapshot version strictly below `batchId` in an UpsertSink
    * directory (None before the first batch) — the pointer-free
    * listing [[VersionedPointer.vacuum]] uses.
    */
  def versionBefore(dir: String, batchId: Long): Option[Long] =
    VersionedPointer.liveIds(dir, -1L, batchId - 1).lastOption

  def rollup(spark: SparkSession, dir: String): DataFrame =
    Log.current(spark, dir)

  private def snapshotAt(spark: SparkSession, snapDir: String,
      batchId: Long): DataFrame =
    versionBefore(snapDir, batchId) match {
      case Some(v) => spark.read.parquet(s"$snapDir/v=$v")
      case None =>
        // No version below batchId is only legitimate at batch 0 (an
        // existing v=0/_LATEST there is just UpsertSink having committed
        // first in the crash window — the pre-batch snapshot is still
        // genuinely empty). At batchId > 0 the previous batch MUST have
        // left a version below us (batches commit in order), so reaching
        // here means it was vacuumed with keep=1 during the
        // snapshot-committed/rollup-pending window; an empty fallback
        // would silently zero the minus side and corrupt the rollup —
        // fail loudly instead (the keep >= 2 contract, enforced).
        if (batchId > 0) {
          val hasState = VersionedPointer.latest(snapDir).isDefined ||
            graft.core.Lake.listNames(snapDir).exists(_.startsWith("v="))
          if (hasState)
            throw new IllegalStateException(
              s"RollupSink: no snapshot version below batch $batchId in " +
                s"$snapDir but the directory has snapshot state — the " +
                "pre-batch version was vacuumed (snapshot vacuum must " +
                "keep >= 2 versions); refusing to double-count")
        }
        // before the first batch the snapshot is empty
        UpsertSink.Log.empty(spark)
    }

  /** Apply one micro-batch's rollup delta; false iff already applied.
    * Call with the SAME batch [[UpsertSink.applyBatch]] receives —
    * ordering between the two sinks does not matter (this sink never
    * reads the post-batch snapshot).
    */
  def applyBatch(batch: DataFrame, batchId: Long, snapDir: String,
      rollDir: String,
      epoch: Option[String] = None): Boolean =
    Log.serve(rollDir, batchId, epoch) {
      val spark = batch.sparkSession
      val collapsed = UpsertSink.collapse(
        batch.select(UpsertSink.changeSchema.fieldNames.map(col): _*))
      val oldSnap = snapshotAt(spark, snapDir, batchId)
      val keys = collapsed.select("key")
      // minus: what the batch's keys contributed before the batch
      val minus = oldSnap.join(keys, Seq("key"), "left_semi")
        .groupBy("name").agg(
          (-count(lit(1))).as("dn"),
          (-sum(col("balance_cents"))).cast("long").as("dc"))
      // plus: what they contribute after the merge (tombstoned keys are
      // dropped by merge and contribute nothing)
      val plus = UpsertSink.merge(oldSnap, collapsed)
        .join(keys, Seq("key"), "left_semi")
        .groupBy("name").agg(
          count(lit(1)).as("dn"),
          sum(col("balance_cents")).cast("long").as("dc"))
      val delta = minus.unionByName(plus)
        .groupBy("name")
        .agg(sum(col("dn")).as("dn"), sum(col("dc")).cast("long").as("dc"))
      val merged = rollup(spark, rollDir).join(delta, Seq("name"), "full_outer")
        .select(col("name"),
          (coalesce(col("n_keys"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_keys"),
          (coalesce(col("cents_total"), lit(0L)) + coalesce(col("dc"), lit(0L)))
            .as("cents_total"))
        .filter(col("n_keys") > 0)
      Seq(merged)
    }

  /** Attach BOTH sinks to one change stream: the rollup applies first
    * (it must see the pre-batch snapshot versions; applying it after a
    * snapshot commit also works — versionBefore ignores the pointer —
    * but first keeps the failure window's replay path identical to the
    * happy path), then the snapshot. Each side is individually
    * idempotent, so any crash point replays cleanly.
    */
  def attach(changes: DataFrame, snapshotDir: String, rollupDir: String,
      checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(changes, checkpointDir, "update") {
      (batch, batchId, epoch) =>
        applyBatch(batch, batchId, snapshotDir, rollupDir, epoch)
        UpsertSink.applyBatch(batch, batchId, snapshotDir, epoch)
    }
}
