package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Lake, Tables, TornRenameFileSystem}

/** The retiree RESTORE path as evidence — the consumer half of
  * retire-then-publish ([[IndexCommit.publishMarked]]). Round 15 made
  * the publish tail keep the pre-publish artifact as a `.old-<pid>`
  * "restore source", but nothing restored it: a rebuildable index paid
  * a full O(corpus) rebuild and a sink-managed history waited for a
  * human. These legs pin [[IndexCommit.restoreRetiree]]:
  *  - eligibility (dead owner only, bound retiree only, generation
  *    match when the caller knows one);
  *  - the restore being one rename that brings back the EXACT tree
  *    (nonce identity), on the hostile copy+delete store;
  *  - [[FpIndex.recover]] — the sink-restart entry — rebuilding probe
  *    answers from the restored history, and refusing to adopt
  *    wreckage it cannot prove complete;
  *  - the compact-on-marker-less-index hole: [[FpIndex.compact]] on a
  *    never-marked sink index must synthesize a marker identity and go
  *    through the retire tail, never commitBuild's marker-less
  *    delete-in-place branch (whose crash window would destroy the one
  *    copy of the streaming history);
  *  - the lake-mode stage pin restoring a crash-stranded snapshot
  *    instead of recomputing the stage.
  */
class RestoreSpec extends SparkSpec {

  private def tornDir(prefix: String): String =
    "torn:" + Files.createTempDirectory(prefix).toString

  private def deadPid: Long = Iterator.iterate(3999999999L)(_ - 7)
    .find(p => !ProcessHandle.of(p).isPresent).get

  test("a crash-stranded retiree restores over the unbound destination: one rename, exact tree, dead-owner and generation gates") {
    val root = tornDir("graft-restore")
    val dst = Paths.get(root.stripPrefix("torn:"), "artifact")
    val dstTorn = Paths.get("torn:" + dst.toString)
    val fp1 = "restore-gen-1:bk32"
    val fp2 = "restore-gen-2:bk32"
    val name = "graft_restore_spec_" + ProcessHandle.current().pid()
    def build(content: String)(tn: String, tp: java.nio.file.Path): Unit = {
      Lake.mkdirs(tp.toString)
      Seq("part-0", "part-1", "part-2").foreach(f =>
        Lake.writeString(s"${tp.toString}/$f", s"$content:$f"))
    }
    try {
      IndexCommit.commitBuild(spark, name, dstTorn, Some(fp1))(build("gen1"))
      assert(IndexCommit.fpValid(dstTorn, fp1))
      val nonce1 = Lake.readString(s"torn:${dst.toString}/_GRAFT_NONCE")

      // a same-generation republish (the compaction shape) dies during
      // the retire's delete sweep: destination = partial old data +
      // old marker (UNBOUND), retiree = the complete original
      TornRenameFileSystem.armDelete("artifact", afterNFiles = 1)
      intercept[java.io.IOException](
        IndexCommit.commitBuild(spark, name, dstTorn, Some(fp1))(build("gen1b")))
      assert(TornRenameFileSystem.deleteCrashes > 0)
      TornRenameFileSystem.disarm()
      assert(!IndexCommit.fpValid(dstTorn, fp1),
        "the swept destination must be unbound")
      val retired = Paths.get(dst.toString + ".old-" +
        ProcessHandle.current().pid())
      assert(Lake.readString(s"torn:${retired.toString}/part-2")
          == "gen1:part-2",
        "the retiree must hold the complete original")

      // gate 1: a LIVE owner's retiree is never restored (it may be
      // mid-publish; its own tail decides)
      assert(!IndexCommit.fpValidOrRestored(dstTorn, fp1),
        "a live owner's retiree must not restore")
      assert(Files.exists(retired), "the live-owner retiree is untouched")

      val dead = Paths.get(dst.toString + ".old-" + deadPid)
      Files.move(retired, dead)

      // gate 2: a WRONG-generation expectation declines (an old
      // artifact is no better than the rebuild the caller runs next)
      assert(!IndexCommit.fpValidOrRestored(dstTorn, fp2),
        "an old-generation retiree must not restore under a newer fp")
      assert(Files.exists(dead), "the declined retiree is untouched")

      // the restore: one rename brings back the EXACT gen-1 tree
      assert(IndexCommit.fpValidOrRestored(dstTorn, fp1),
        "a dead owner's same-generation retiree must restore")
      assert(IndexCommit.fpValid(dstTorn, fp1))
      assert(Lake.readString(s"torn:${dst.toString}/part-2") == "gen1:part-2")
      assert(Lake.readString(s"torn:${dst.toString}/_GRAFT_NONCE") == nonce1,
        "the restored tree must be the retiree itself, not a rebuild")
      assert(!Files.exists(dead), "the restore consumes the retiree")

      // life goes on: a newer generation rebuilds through the protocol
      IndexCommit.commitBuild(spark, name, dstTorn, Some(fp2))(build("gen2"))
      assert(IndexCommit.fpValid(dstTorn, fp2))
    } finally {
      TornRenameFileSystem.disarm()
      Lake.deleteTree(root)
    }
  }

  test("sink index: marker-less compact publishes marker-bound; recover restores the history after a crashed compaction") {
    val root = tornDir("graft-restore-sink")
    val name = "graft_restore_sink_" + ProcessHandle.current().pid()
    val path = Paths.get(root.stripPrefix("torn:"), name)
    val tornPath = Paths.get("torn:" + path.toString)
    val hist = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 100)
      .localCheckpoint(true)
    def arrivals(offset: Long) =
      hist.withColumn("doc_id", col("doc_id") + lit(offset))
    try {
      // a sink-managed index is born MARKER-LESS (initIndex/append —
      // there is no source to fingerprint)
      FpIndex.Layout.initIndex(spark, name, tornPath)
      FpIndex.append(spark, name, hist)
      assert(IndexCommit.readFp(tornPath).isEmpty,
        "a never-compacted sink index has no marker")
      assert(IndexCommit.appendedShare(tornPath).isEmpty,
        "no manifest baseline yet — the owner compacts once on its own")
      def probeRows() = FpIndex.probeSpans(spark, name, arrivals(1000000L))._1
        .collect().map(_.toString).sorted.toSeq
      val want = probeRows()
      assert(want.nonEmpty, "duplicated arrivals must hit history spans")

      // the hole, closed: compaction must synthesize a marker identity
      // and publish through the retire tail — a marker-less rewrite
      // would delete the one copy of the history in place
      FpIndex.Layout.compact(spark, name, tornPath)
      assert(IndexCommit.readFp(tornPath)
          .contains(IndexCommit.sinkHistoryFp(name)),
        "compaction of a marker-less index must publish marker-bound")
      assert(IndexCommit.treeBound(tornPath))
      assert(probeRows() == want, "compaction must not change answers")
      assert(IndexCommit.appendedShare(tornPath).contains(0.0),
        "a fresh compaction covers every byte")

      // a second compaction dies during the retire's delete sweep: the
      // destination is partially swept, the complete history sits in
      // the retiree
      val nData = Lake.fileEntriesRel(tornPath.toString)
        .count { case (p, _) => !p.split('/').last.startsWith("_") }
      assert(nData > 1, s"need a multi-file tree to tear (saw $nData)")
      TornRenameFileSystem.armDelete(name, afterNFiles = 1)
      intercept[java.io.IOException](FpIndex.Layout.compact(spark, name, tornPath))
      assert(TornRenameFileSystem.deleteCrashes > 0)
      TornRenameFileSystem.disarm()
      assert(!IndexCommit.treeBound(tornPath),
        "the swept destination must be unbound")
      val retired = Paths.get(path.toString + ".old-" +
        ProcessHandle.current().pid())
      assert(Files.exists(retired), "the retiree survives the crash")
      Files.move(retired, Paths.get(path.toString + ".old-" + deadPid))

      // the sink restart: recover restores the history and probes
      // answer exactly as before the crash
      assert(FpIndex.Layout.recover(spark, name, tornPath),
        "recover must restore the crash-stranded retiree")
      assert(IndexCommit.treeBound(tornPath))
      assert(probeRows() == want,
        "the restored history must answer probes identically")
      // and the loop continues: appends land on the restored index
      FpIndex.append(spark, name, arrivals(2000000L))
      assert(IndexCommit.treeBound(tornPath),
        "an append must not invalidate the restored marker")
      // the metadata-only compaction trigger sees the appended bytes
      assert(IndexCommit.appendedShare(tornPath).exists(_ > 0.0),
        "post-compact appends must register as appended share")

      // refusal: wreckage with nothing to restore is a loud error,
      // never silently registered as an empty history
      Lake.deleteTree(tornPath.toString)
      Lake.mkdirs(tornPath.toString)
      val e = intercept[java.io.IOException](
        FpIndex.Layout.recover(spark, name, tornPath))
      assert(e.getMessage.contains("not recoverable"))
      hist.unpersist()
    } finally {
      TornRenameFileSystem.disarm()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      Lake.deleteTree(root)
    }
  }

  test("a legacy-marked retiree never restores: the weaker rule cannot prove it complete") {
    // a legacy single-line marker binds under marker-AND-data, which
    // cannot tell a complete tree from one whose retire copy tore —
    // restoring it could serve torn bytes as valid. Legacy trees are
    // rebuildable by construction (they predate the manifest protocol;
    // sink histories are adopted before their first retiree), so the
    // restore demands a manifest-bound retiree and declines here.
    val root = Files.createTempDirectory("graft-restore-legacy")
    val dst = root.resolve("artifact")
    try {
      Lake.mkdirs(dst.toString)
      Lake.writeString(s"${dst.toString}/part-0", "remnant")
      val r = root.resolve("artifact.old-" + deadPid)
      Lake.mkdirs(r.toString)
      IndexCommit.writeFp(r, "legacy-gen")
      Lake.writeString(s"${r.toString}/part-0", "maybe-torn")
      assert(!IndexCommit.fpValidOrRestored(dst, "legacy-gen"),
        "a legacy-marked retiree must not restore")
      assert(Files.exists(r.resolve("part-0")), "…and must be left alone")
    } finally Lake.deleteTree(root.toString)
  }

  test("BandIndex.recover shares the restore semantics (the token-level sink index)") {
    // the IngestDedupSink-managed band index has the same no-rebuild
    // contract as FpIndex's; the policy body is one shared function
    // (IndexCommit.recoverSink) — this leg pins the BandIndex wiring:
    // adoption on first compact, restore after a crashed one, probe
    // answers identical from the restored history.
    val root = tornDir("graft-restore-band")
    val name = "graft_restore_band_" + ProcessHandle.current().pid()
    val path = Paths.get(root.stripPrefix("torn:"), name)
    val tornPath = Paths.get("torn:" + path.toString)
    val hist = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 60)
      .localCheckpoint(true)
    val arrivals = hist.withColumn("doc_id", col("doc_id") + lit(1000000L))
    try {
      BandIndex.Layout.initIndex(spark, name, tornPath)
      BandIndex.append(spark, name, hist)
      def probeRows() = BandIndex.probeIndex(spark, name, arrivals)._1
        .collect().map(_.toString).sorted.toSeq
      val want = probeRows()
      assert(want.nonEmpty, "exact-duplicate arrivals must hit history")

      BandIndex.Layout.compact(spark, name, tornPath)
      assert(IndexCommit.readFp(tornPath)
          .contains(IndexCommit.sinkHistoryFp(name)))
      assert(probeRows() == want)

      TornRenameFileSystem.armDelete(name, afterNFiles = 1)
      intercept[java.io.IOException](BandIndex.Layout.compact(spark, name, tornPath))
      TornRenameFileSystem.disarm()
      assert(!IndexCommit.treeBound(tornPath))
      Files.move(
        Paths.get(path.toString + ".old-" + ProcessHandle.current().pid()),
        Paths.get(path.toString + ".old-" + deadPid))

      assert(BandIndex.Layout.recover(spark, name, tornPath))
      assert(probeRows() == want,
        "the restored band history must answer probes identically")
      hist.unpersist()
    } finally {
      TornRenameFileSystem.disarm()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      Lake.deleteTree(root)
    }
  }

  test("ClusterIndex compaction folds replay duplicates exactly, preserves the sidecar, and recovers") {
    // the vector estate's sink lifecycle: a modal dedup sink's index
    // accrues crash-replay duplicates (probes grouped-min them away;
    // the bytes remain), compact folds them through the same adopted
    // marker-bound tail, the frozen-cell _CENTROIDS sidecar rides into
    // the new tree, and a crashed compaction recovers via the shared
    // policy body.
    val root = tornDir("graft-restore-clu")
    val name = "graft_restore_clu_" + ProcessHandle.current().pid()
    val path = Paths.get(root.stripPrefix("torn:"), name)
    val tornPath = Paths.get("torn:" + path.toString)
    val rows = spark.range(40).select(
      col("id").as("vec_id"), (col("id") % 4).as("cid"),
      array(col("id").cast("double"), lit(1.0)).as("v"),
      lit(1.0).as("nrm"))
    try {
      ClusterIndex.Layout.initIndex(spark, name, tornPath)
      ClusterIndex.Layout.append(name, rows)
      ClusterIndex.Layout.append(name, rows) // the crash-replayed batch
      // a frozen-cell sidecar rides along (the history-seeded shape)
      spark.range(4).select(col("id").as("cid"),
          array(lit(0.0), lit(1.0)).as("cv"))
        .coalesce(1).write.parquet(s"torn:${path.toString}/_CENTROIDS")

      val (before, after) = ClusterIndex.Layout.compact(spark, name, tornPath)
      assert(before == 80L && after == 40L,
        "compaction must fold exactly the duplicated rows")
      assert(IndexCommit.readFp(tornPath)
          .contains(IndexCommit.sinkHistoryFp(name)))
      assert(spark.read.parquet(s"torn:${path.toString}/_CENTROIDS")
          .count() == 4L,
        "the frozen-cell sidecar must survive the rewrite")

      TornRenameFileSystem.armDelete(name, afterNFiles = 1)
      intercept[java.io.IOException](
        ClusterIndex.Layout.compact(spark, name, tornPath))
      TornRenameFileSystem.disarm()
      assert(!IndexCommit.treeBound(tornPath))
      Files.move(
        Paths.get(path.toString + ".old-" + ProcessHandle.current().pid()),
        Paths.get(path.toString + ".old-" + deadPid))

      assert(ClusterIndex.Layout.recover(spark, name, tornPath))
      assert(spark.table(name).count() == 40L,
        "the restored history must hold the compacted rows")
      assert(spark.read.parquet(s"torn:${path.toString}/_CENTROIDS")
          .count() == 4L,
        "the sidecar must survive the crash and the restore")
    } finally {
      TornRenameFileSystem.disarm()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      Lake.deleteTree(root)
    }
  }

  test("PostingsIndex compaction folds replay duplicates, carries the versioned sidecar estate, and recovers") {
    // the retrieval estate's sink lifecycle: postings storage is
    // at-least-once (a crash between the postings append and the
    // sidecar commit leaves the replayed batch's rows twice; reads are
    // row-DISTINCT), the versioned df/meta sidecars are exactly-once
    // history the replay protocol depends on — compaction must fold
    // exactly the duplicate copy and carry the sidecar estate
    // byte-identical, and the mutable _LATEST pointer must stay
    // manifest-exempt so later appends never stale the artifact.
    val root = tornDir("graft-restore-post")
    val name = "graft_restore_post_" + ProcessHandle.current().pid()
    val path = Paths.get(root.stripPrefix("torn:"), name)
    val tornPath = Paths.get("torn:" + path.toString)
    val hist = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 60)
      .localCheckpoint(true)
    val batch = hist.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .localCheckpoint(true)
    try {
      PostingsIndex.buildIndexDocs(spark, hist, name, tornPath) // sidecar v0
      val c0 = spark.table(name).count()
      // the crash window: postings landed, the sidecar commit didn't
      PostingsIndex.appendPostingsOnly(spark, name, batch)
      val c1 = spark.table(name).count()
      // the replay recomputes the batch — postings rows land TWICE,
      // the sidecar slot v=1 exactly once (deterministic slot)
      PostingsIndex.append(spark, name, tornPath, batch, Some(1L))
      val c2 = spark.table(name).count()
      assert(c2 - c1 == c1 - c0, "the replay must duplicate exactly the batch")
      assert(PostingsIndex.sidecarVersion(tornPath) == 1L)

      val (before, after) = PostingsIndex.Layout.compact(spark, name, tornPath)
      assert(before == c2 && after == c1,
        "compaction must fold exactly the duplicate copy")
      assert(IndexCommit.readFp(tornPath)
          .contains(IndexCommit.sinkHistoryFp(name)))
      assert(PostingsIndex.sidecarVersion(tornPath) == 1L,
        "the versioned sidecar estate must ride into the new tree")
      assert(spark.read.parquet(
          s"torn:${path.toString}/_sidecar/v=1/dfreq").count() > 0)

      // a post-compact append advances the pointer in place — the
      // manifest-exempt rule must keep the artifact valid
      PostingsIndex.append(spark, name, tornPath,
        batch.withColumn("doc_id", col("doc_id") + lit(1000000L)), Some(2L))
      assert(IndexCommit.treeBound(tornPath),
        "a pointer advance must never stale the manifest-bound marker")

      TornRenameFileSystem.armDelete(name, afterNFiles = 1)
      intercept[java.io.IOException](
        PostingsIndex.Layout.compact(spark, name, tornPath))
      TornRenameFileSystem.disarm()
      assert(!IndexCommit.treeBound(tornPath))
      Files.move(
        Paths.get(path.toString + ".old-" + ProcessHandle.current().pid()),
        Paths.get(path.toString + ".old-" + deadPid))

      assert(PostingsIndex.Layout.recover(spark, name, tornPath))
      assert(PostingsIndex.sidecarVersion(tornPath) == 2L,
        "the restored history must hold the full sidecar estate")
      hist.unpersist(); batch.unpersist()
    } finally {
      TornRenameFileSystem.disarm()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      Lake.deleteTree(root)
    }
  }

  test("lake-mode stage pin restores a crash-stranded snapshot instead of recomputing the stage") {
    val fn = graft.SparkEntry.queries("q115_full_curation")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toString).sorted
    val stage = Files.createTempDirectory("graft-restore-stage").toString
    System.setProperty("graft.stage.dir", stage)
    try {
      val want = rows(fn(spark, sf0001))
      val s1 = Paths.get(stage, "s1")
      val nonce1 = Files.readString(s1.resolve("_GRAFT_NONCE"))
      // the crash shape: a publish retired the live snapshot and died —
      // destination absent, the complete snapshot in a dead pid's
      // retiree
      Files.move(s1, Paths.get(s1.toString + ".old-" + deadPid))
      assert(rows(fn(spark, sf0001)) == want,
        "the resumed run must equal the clean run")
      assert(Files.readString(s1.resolve("_GRAFT_NONCE")) == nonce1,
        "the stage must be RESTORED (same tree), not recomputed")
    } finally {
      System.clearProperty("graft.stage.dir")
      Lake.deleteTree(stage)
    }
  }
}
