package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Exactly-once streaming SCD-1 upsert sink — the streaming twin of the
  * batch merge (q71, `operators/Analytic.scala`), closing the CDC loop:
  * a change stream (insert/update-delta/tombstone) continuously maintains
  * a keyed snapshot table.
  *
  * `foreachBatch` is an AT-LEAST-ONCE surface: after a crash the engine
  * re-delivers the last uncommitted micro-batch with the SAME batchId.
  * The sink turns that into exactly-once through [[VersionedPointer]]:
  * each batch merges the collapsed changes into the snapshot the
  * pointer names and writes the result as version `v=<batchId>`; a
  * replayed batch is skipped by the pointer gate (with
  * delta-accumulating changes a re-apply would visibly double-add, so
  * idempotence is load-bearing, not cosmetic).
  *
  * Batch collapse is COMMUTATIVE per key (sum of deltas, tombstone wins,
  * name by latest event-time) so the distributed aggregation is
  * deterministic with no ordering assumption inside the micro-batch.
  *
  * At scale: the merge is ONE shuffle of snapshot + change-set on the
  * merge key per micro-batch (identical plan to q71); the change side of
  * a real CDC feed is micro-batch-sized (broadcastable); old versions are
  * reclaimed by [[VersionedPointer.vacuum]], so storage is `keep` ×
  * snapshot size.
  */
object UpsertSink {

  /** Change-stream schema: deltas accumulate, tombstones delete. */
  val changeSchema: StructType = StructType(Seq(
    StructField("key", LongType),
    StructField("name", StringType),
    StructField("delta_cents", LongType),
    StructField("deleted", BooleanType),
    StructField("ts", TimestampType)))

  /** One change row per key: deltas sum, any tombstone in the batch wins
    * (order-free semantics — every per-key reduction here is commutative,
    * so task scheduling cannot change the result), name from the latest
    * event-time row.
    */
  def collapse(batch: DataFrame): DataFrame =
    batch.groupBy("key").agg(
      max_by(col("name"), col("ts")).as("name"),
      sum(col("delta_cents")).as("delta_cents"),
      max(col("deleted").cast("int")).cast("boolean").as("deleted"))

  /** Accumulating SCD-1 merge: update-by-delta where both sides match,
    * insert change-only keys at their delta, drop tombstoned keys.
    * Same full-outer single-shuffle shape as the batch merge q71.
    */
  def merge(snap: DataFrame, changes: DataFrame): DataFrame =
    snap.as("s").join(changes.as("c"), Seq("key"), "full_outer")
      .filter(col("c.deleted").isNull || !col("c.deleted"))
      .select(col("key"),
        coalesce(col("c.name"), col("s.name")).as("name"),
        (coalesce(col("s.balance_cents"), lit(0L)) +
          coalesce(col("c.delta_cents"), lit(0L))).as("balance_cents"))

  /** The snapshot table, one version per batch. */
  val Log: SinkLog = SinkLog(StructType(Seq(
    StructField("key", LongType),
    StructField("name", StringType),
    StructField("balance_cents", LongType))))

  /** Current snapshot table (empty-schema frame before the first batch). */
  def snapshot(spark: SparkSession, dir: String): DataFrame =
    Log.current(spark, dir)

  /** Apply one micro-batch; returns false iff skipped as already applied.
    * Streaming-internal columns are projected away so the same method
    * serves foreachBatch and direct (batch-backfill) callers.
    */
  def applyBatch(batch: DataFrame, batchId: Long, dir: String,
      epoch: Option[String] = None): Boolean =
    Log.serve(dir, batchId, epoch) {
      Seq(merge(snapshot(batch.sparkSession, dir),
        collapse(batch.select(changeSchema.fieldNames.map(col): _*))))
    }

  /** Attach the sink to a change stream. */
  def attach(changes: DataFrame, snapshotDir: String,
      checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(changes, checkpointDir, "update") {
      (batch, batchId, epoch) => applyBatch(batch, batchId, snapshotDir, epoch)
    }
}
