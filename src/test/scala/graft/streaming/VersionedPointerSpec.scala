package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec
import graft.core.Lake
import graft.operators.PostingsIndex

/** The shared versioned-pointer protocol ([[VersionedPointer]]) every
  * foreachBatch sink speaks, including the CHECKPOINT-EPOCH guard: the
  * monotonic replay rule (batchId ≤ pointer ⇒ already served) is only
  * sound within one checkpoint lineage — a stream restarted with a
  * fresh/wiped checkpoint restarts batch ids at 0, and without the
  * guard every new batch would be silently swallowed as a replay
  * (served query answers dropped into the void). Pinned here: the
  * plain protocol (commit → latest → committedDirs, crash leftovers
  * past the pointer excluded), epoch persistence in the checkpoint
  * dir, and the fail-fast on a lineage mismatch. I/O runs through
  * [[graft.core.Lake]] (Hadoop FileSystem), so this spec also proves
  * the protocol through the Hadoop local filesystem implementation.
  * The fail-fast also holds for [[RetrievalIndexSink]], whose log is
  * the postings index's sidecar chain.
  */
class VersionedPointerSpec extends SparkSpec {

  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("commit/latest/committedDirs: pointer is truth, leftovers excluded") {
    val out = tmpDir("graft-vp")
    try {
      assert(VersionedPointer.latest(out).isEmpty)
      assert(VersionedPointer.committedDirs(out).isEmpty)
      Lake.mkdirs(s"$out/v=0"); VersionedPointer.commit(out, 0L)
      Lake.mkdirs(s"$out/v=1"); VersionedPointer.commit(out, 1L)
      // a crash window leaves v=2 data with NO pointer advance
      Lake.mkdirs(s"$out/v=2")
      assert(VersionedPointer.latest(out).contains(1L))
      assert(VersionedPointer.committedDirs(out) ==
        Seq(s"$out/v=0", s"$out/v=1"),
        "an uncommitted orphan slot must not be readable")
      assert(VersionedPointer.alreadyServed(out, 1L, None),
        "a replayed batch id is a no-op")
      assert(!VersionedPointer.alreadyServed(out, 2L, None),
        "the crash-window batch must replay")
    } finally Lake.deleteTree(out)
  }

  test("epochOf persists with the checkpoint and dies with it") {
    val ckpt = tmpDir("graft-vp-ckpt")
    try {
      val e1 = VersionedPointer.epochOf(ckpt)
      assert(VersionedPointer.epochOf(ckpt) == e1,
        "the epoch is stable across restarts of the same checkpoint")
      Lake.deleteTree(ckpt)
      val e2 = VersionedPointer.epochOf(ckpt)
      assert(e2 != e1, "a wiped checkpoint is a NEW lineage")
    } finally Lake.deleteTree(ckpt)
  }

  test("a checkpoint reset fails fast instead of no-opping new batches") {
    val out = tmpDir("graft-vp-epoch")
    try {
      val lineageA = "epoch-aaaa"
      Lake.mkdirs(s"$out/v=5")
      VersionedPointer.commit(out, 5L, Some(lineageA))
      // same lineage replaying an old id: the normal no-op
      assert(VersionedPointer.alreadyServed(out, 3L, Some(lineageA)))
      // same lineage, new id: proceeds
      assert(!VersionedPointer.alreadyServed(out, 6L, Some(lineageA)))
      // DIFFERENT lineage (fresh checkpoint, ids restarted at 0):
      // without the guard this would return true and the batch's
      // results would be silently dropped — it must throw instead
      val ex = intercept[IllegalStateException] {
        VersionedPointer.alreadyServed(out, 0L, Some("epoch-bbbb"))
      }
      assert(ex.getMessage.contains("lineage"),
        "the failure must name the lineage conflict")
      // epoch-less direct calls (tests/backfills) keep the plain rule
      assert(VersionedPointer.alreadyServed(out, 0L, None))
    } finally Lake.deleteTree(out)

    // the same reset against a stream whose log is an index sidecar:
    // the new lineage's batch 0 sits below the old sidecar pointer (2)
    val root = Files.createTempDirectory("graft-vp-retr")
    try {
      val name = "graft_vp_retr"
      val path = root.resolve("idx")
      PostingsIndex.buildIndexDocs(spark,
        Seq(1L -> "spark shuffles the hash join build side")
          .toDF("doc_id", "text"), name, path)
      implicit val sql = spark.sqlContext
      def run(ckpt: String, batches: Seq[(Long, String)]*): Unit = {
        val s = MemoryStream[(Long, String)]
        val q = RetrievalIndexSink.attach(s.toDF().toDF("doc_id", "text"),
          name, path, ckpt)
        try batches.foreach { b => s.addData(b: _*); q.processAllAvailable() }
        finally q.stop()
      }
      val ckpt = root.resolve("ckpt").toString
      run(ckpt, Seq(2L -> "parquet footers carry min max stats"),
        Seq(3L -> "the hash aggregate spills to disk"))
      assert(PostingsIndex.sidecarVersion(path) == 2L)
      Lake.deleteTree(ckpt)
      val ex = intercept[StreamingQueryException] {
        run(ckpt, Seq(4L -> "broadcast the small hash side of a join"))
      }
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(e => Option(e.getMessage).exists(_.contains("lineage"))),
        "the sink must fail on the lineage conflict, not skip the batch")
      assert(PostingsIndex.sidecarVersion(path) == 2L)
    } finally Lake.deleteTree(root.toString)
  }
}
