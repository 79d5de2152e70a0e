package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Exactly-once streaming SCD-1 sink: batch collapse semantics, the
  * versioned-snapshot replay guard (the seam that turns foreachBatch's
  * at-least-once into exactly-once), engine-level restart from the
  * checkpoint, and version vacuuming. Deltas are deliberately
  * NON-idempotent at the row level so any double-apply is visible in
  * the balances, not just in bookkeeping.
  */
class UpsertSinkSpec extends SparkSpec {

  import spark.implicits._

  private def at(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def snapshotMap(dir: String): Map[Long, (String, Long)] =
    UpsertSink.snapshot(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  private def changes(rows: (Long, String, Long, Boolean, Timestamp)*) =
    rows.toDF("key", "name", "delta_cents", "deleted", "ts")

  test("collapse is per-key commutative: deltas sum, tombstone wins, latest name") {
    val got = UpsertSink.collapse(changes(
      (1L, "a-early", 100L, false, at("10:00")),
      (1L, "a-late", 50L, false, at("10:30")),
      (2L, "b", 10L, false, at("10:00")),
      (2L, "b2", 20L, true, at("09:00")))) // tombstone wins regardless of ts order
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, "a-late", 150L, false), (2L, "b", 30L, true)))
  }

  test("applyBatch accumulates, inserts, deletes, and re-creates across batches") {
    val dir = tmp("graft-upsert")
    assert(UpsertSink.applyBatch(
      changes((1L, "one", 100L, false, at("10:00")),
        (2L, "two", 200L, false, at("10:00"))), 0L, dir))
    assert(UpsertSink.applyBatch(
      changes((1L, "one", 25L, false, at("11:00")), // delta accumulates
        (2L, "two", 0L, true, at("11:00")), // tombstone
        (3L, "three", 300L, false, at("11:00"))), 1L, dir)) // insert
    assert(snapshotMap(dir) ==
      Map(1L -> ("one", 125L), 3L -> ("three", 300L)))
    // a deleted key re-inserts from zero, not from its pre-delete balance
    assert(UpsertSink.applyBatch(
      changes((2L, "two-again", 7L, false, at("12:00"))), 2L, dir))
    assert(snapshotMap(dir)(2L) == ("two-again", 7L))
    assert(VersionedPointer.latest(dir).contains(2L))
  }

  test("replaying a committed batchId is a no-op (the exactly-once seam)") {
    val dir = tmp("graft-upsert-replay")
    val b0 = changes((1L, "one", 100L, false, at("10:00")))
    assert(UpsertSink.applyBatch(b0, 0L, dir))
    val before = snapshotMap(dir)
    // foreachBatch redelivers the SAME batchId after a crash; a re-apply
    // of the delta would show as balance 200
    assert(!UpsertSink.applyBatch(b0, 0L, dir), "replay must be skipped")
    assert(snapshotMap(dir) == before)
    assert(before(1L)._2 == 100L)
    // stale batches below the pointer are equally refused
    assert(!UpsertSink.applyBatch(
      changes((9L, "stale", 1L, false, at("10:00"))), 0L, dir))
    assert(!snapshotMap(dir).contains(9L))
  }

  test("engine restart from checkpoint: versions advance, no double-apply") {
    implicit val sql = spark.sqlContext
    val snapDir = tmp("graft-upsert-snap")
    val ckpt = tmp("graft-upsert-ckpt")
    val stream = MemoryStream[(Long, String, Long, Boolean, Timestamp)]
    def start() = UpsertSink.attach(
      stream.toDF().toDF("key", "name", "delta_cents", "deleted", "ts"),
      snapDir, ckpt)

    val q1 = start()
    try {
      stream.addData((1L, "one", 100L, false, at("10:00")))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(snapshotMap(snapDir) == Map(1L -> ("one", 100L)))
    val v1 = VersionedPointer.latest(snapDir).get

    // data queued while the sink is down is delivered once after restart
    stream.addData((1L, "one", 11L, false, at("11:00")),
      (2L, "two", 200L, false, at("11:00")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // the engine's own redelivery of an already-committed batch (the
      // crash window) hits the version guard: simulate it verbatim
      assert(!UpsertSink.applyBatch(
        changes((1L, "one", 100L, false, at("10:00"))), v1, snapDir))
      stream.addData((2L, "two", 0L, true, at("12:00")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(snapshotMap(snapDir) == Map(1L -> ("one", 111L)),
      "post-restart state must accumulate exactly once and apply the tombstone")
    assert(VersionedPointer.latest(snapDir).get > v1)
  }

  test("vacuum drops superseded versions; the pointer target survives") {
    val dir = tmp("graft-upsert-vac")
    (0 to 3).foreach { i =>
      assert(UpsertSink.applyBatch(
        changes((1L, "one", 10L, false, at("10:00"))), i.toLong, dir))
    }
    val dropped = VersionedPointer.vacuum(dir, keep = 2)
    assert(dropped == Seq(0L, 1L))
    val left = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName).sorted.toSeq
    assert(left == Seq("v=2", "v=3"))
    assert(snapshotMap(dir) == Map(1L -> ("one", 40L)))
  }

  test("vacuum never drops the pointer version, even past a crash-window orphan") {
    val dir = tmp("graft-upsert-vac-orphan")
    (0 to 1).foreach { i =>
      assert(UpsertSink.applyBatch(
        changes((1L, "one", 10L, false, at("10:00"))), i.toLong, dir))
    }
    val committed = snapshotMap(dir)
    // crash window: v=2 fully written, pointer still at 1 — an
    // aggressive keep=1 vacuum must not count the orphan against the
    // budget and delete the one version the pointer resolves to
    val orphanSrc = new java.io.File(s"$dir/v=1")
    val orphanDst = new java.io.File(s"$dir/v=2")
    org.apache.commons.io.FileUtils.copyDirectory(orphanSrc, orphanDst)
    assert(VersionedPointer.latest(dir).contains(1L))
    VersionedPointer.vacuum(dir, keep = 1)
    // the pointer version survives and the snapshot still reads
    assert(new java.io.File(s"$dir/v=1").isDirectory)
    assert(snapshotMap(dir) == committed)
  }
}
