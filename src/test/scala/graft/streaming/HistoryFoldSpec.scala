package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Lake, TornRenameFileSystem}
import graft.functions.MediaCodecs
import graft.operators.{BandIndex, ClusterIndex, Clustering, IndexCommit}

/** The sink-history fold ([[VersionedPointer.compactHistory]]): the
  * OUTPUT layer's compaction. A micro-batch sink writes one `v=N` dir
  * per batch and every history reader unions all of them — at 100 TB
  * that is the small-files problem, and the fold rewrites the
  * committed prefix into leveled `seg=lo-hi` artifacts under the
  * manifest-bound publish protocol. The load-bearing claims, each
  * pinned here: the union read is IDENTICAL before and after any fold
  * (minor, major, sub-log); the replay guard survives folding (the
  * pointer never moves); every crash window — torn publish, publish
  * without retire, retire without republish — leaves the readers'
  * view complete (repaired by restore or by the next fold, never a
  * silent hole); and a hole that genuinely lost bytes refuses loudly.
  */
class HistoryFoldSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeBatch(dir: String, id: Long, xs: Seq[Long]): Unit = {
    xs.toDF("x").withColumn("batch_id", lit(id))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v=$id")
    VersionedPointer.commit(dir, id)
  }

  private def union(dirs: Seq[String]): Seq[(Long, Long)] =
    if (dirs.isEmpty) Seq.empty
    else spark.read.parquet(dirs: _*)
      .select("x", "batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("minor folds preserve the union, the chain tiles, major merges, replay guard intact") {
    val dir = tmp("graft-histfold")
    (0L to 4L).foreach(i => writeBatch(dir, i, Seq(i * 10, i * 10 + 1)))
    val before = union(VersionedPointer.committedDirs(dir))
    assert(before.size == 10)
    assert(VersionedPointer.unfoldedShare(dir).isEmpty,
      "never-folded history has no baseline (the appendedShare contract)")

    // minor fold: newest dir stays live, the rest become one segment
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1)
      .contains((0L, 3L)))
    assert(VersionedPointer.historySegments(dir) == Seq((0L, 3L)))
    assert(VersionedPointer.committedDirs(dir) ==
      Seq(s"$dir/seg=0-3", s"$dir/v=4"))
    assert(union(VersionedPointer.committedDirs(dir)) == before,
      "a fold changes layout, never the history")
    assert(!Lake.exists(s"$dir/v=0") && !Lake.exists(s"$dir/v=3"),
      "folded sources are retired")
    assert(Lake.listNames(s"$dir/seg=0-3")
      .count(n => !n.startsWith("_") && !n.startsWith(".")) == 1,
      "a fold of a few one-file batches must emit ONE well-sized file, " +
        "not shuffle-width shards — the small-files purpose")
    assert(VersionedPointer.unfoldedShare(dir).exists(_ > 0.0),
      "the kept live dir is unfolded bytes")

    // the second minor fold extends the chain — cost ∝ NEW data only
    (5L to 6L).foreach(i => writeBatch(dir, i, Seq(i * 10)))
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1)
      .contains((4L, 5L)))
    assert(VersionedPointer.historySegments(dir) == Seq((0L, 3L), (4L, 5L)))
    val mid = union(VersionedPointer.committedDirs(dir))
    assert(mid.size == 12 && mid.take(10) == before)

    // replay guard: folding never moves the pointer
    assert(VersionedPointer.alreadyServed(dir, 2L, None))
    assert(VersionedPointer.latest(dir).contains(6L))

    // major fold: the whole chain merges into one segment
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 0,
      major = true).contains((0L, 6L)))
    assert(VersionedPointer.historySegments(dir) == Seq((0L, 6L)))
    assert(VersionedPointer.committedDirs(dir) == Seq(s"$dir/seg=0-6"))
    assert(union(VersionedPointer.committedDirs(dir)) == mid)
    assert(VersionedPointer.unfoldedShare(dir).contains(0.0))

    // nothing left to fold — a second call is a no-op
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 0,
      major = true).isEmpty)
  }

  // every history reader, fed a log of plain committed batches: a minor
  // fold (newest dir kept live) and then a full fold (nothing live) must
  // both read back exactly the committed rows
  private val historyReaders: Seq[(String, String => DataFrame)] = Seq(
    "IngestDedupSink.decisions" -> (IngestDedupSink.decisions(spark, _)),
    "WinnowIndexSink.cleanedDocs" -> (WinnowIndexSink.cleanedDocs(spark, _)),
    "ClusterIndexSink.verdicts" -> (ClusterIndexSink.verdicts(spark, _)),
    "CurationSink.verdicts" -> (CurationSink.verdicts(spark, _)),
    "MultimodalCurationSink.verdicts" ->
      (MultimodalCurationSink.verdicts(spark, _)),
    "ImageDedupSink.verdicts" -> (ImageDedupSink.verdicts(spark, _)),
    "BoilerplateSink.decisions" -> (BoilerplateSink.decisions(spark, _)),
    "DecontamSink.decisions" -> (DecontamSink.decisions(spark, _)),
    "AnnServeSink.results" -> (AnnServeSink.results(spark, _)),
    "Bm25ServeSink.results" -> (Bm25ServeSink.results(spark, _)),
    "HybridServeSink.results" -> (HybridServeSink.results(spark, _)))

  historyReaders.foreach { case (reader, read) =>
    test(s"$reader is fold-blind after a minor and a full fold") {
      val dir = tmp("graft-histfold-reader")
      def rows = read(dir).select("x", "batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      (0L to 2L).foreach(i => writeBatch(dir, i, Seq(i * 10, i * 10 + 1)))
      val before = rows
      assert(before.size == 6)
      assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1)
        .contains((0L, 1L)))
      assert(rows == before, "a minor fold must not hide folded batches")
      writeBatch(dir, 3L, Seq(30L))
      assert(VersionedPointer.compactHistory(spark, dir, keepLast = 0)
        .contains((2L, 3L)))
      assert(rows == before :+ ((30L, 3L)),
        "a fold with no live dir left must still read the whole history")
    }
  }

  test("a real ingest sink folds between batches; decisions stay identical and the stream continues") {
    val name = s"graft_histfold_idx_${ProcessHandle.current().pid()}"
    BandIndex.Layout.initIndex(spark, name, Paths.get(tmp("graft-histfold-idx"), "i"))
    val dir = tmp("graft-histfold-sink")
    val a1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b1 = "one two three four five six seven eight nine ten"
    val u1 = "totally unrelated words about parquet footers and shuffles"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    assert(IngestDedupSink.applyBatch(batch(1L -> a1, 2L -> u1), 0L, name, dir))
    assert(IngestDedupSink.applyBatch(batch(3L -> b1, 4L -> a1), 1L, name, dir))
    val before = IngestDedupSink.decisions(spark, dir)
      .collect().map(_.toSeq).toSet

    // the owner folds between its own micro-batches
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1)
      .contains((0L, 0L)))
    assert(IngestDedupSink.decisions(spark, dir)
      .collect().map(_.toSeq).toSet == before,
      "the fold must be invisible to the decision reader")

    // a replayed batch is still a no-op, and new batches land past the fold
    assert(!IngestDedupSink.applyBatch(batch(1L -> a1, 2L -> u1), 0L, name, dir))
    assert(IngestDedupSink.applyBatch(batch(5L -> b1), 2L, name, dir))
    val after = IngestDedupSink.decisions(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(before.subsetOf(after) && after.size == before.size + 1)
  }

  test("sub-logs fold under the same cut, and once folded are re-folded without being named") {
    val dir = tmp("graft-histfold-sub")
    (0L to 3L).foreach { i =>
      writeBatch(dir, i, Seq(i))
      if (i % 2 == 0) // sparse quarantine sibling, the modal sinks' shape
        Seq(i * 100).toDF("x").withColumn("batch_id", lit(i))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/quarantine/v=$i")
    }
    val mainBefore = union(VersionedPointer.committedDirs(dir))
    val subBefore = union(VersionedPointer.committedSubDirs(dir, "quarantine"))
    assert(subBefore == Seq((0L, 0L), (200L, 2L)))

    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1,
      subs = Seq("quarantine")).contains((0L, 2L)))
    assert(VersionedPointer.historySegments(s"$dir/quarantine") ==
      Seq((0L, 2L)))
    assert(union(VersionedPointer.committedDirs(dir)) == mainBefore)
    assert(union(VersionedPointer.committedSubDirs(dir, "quarantine")) ==
      subBefore)

    // a later fold NOT naming the sub must still carry it forward
    (4L to 5L).foreach { i =>
      writeBatch(dir, i, Seq(i))
      Seq(i * 100).toDF("x").withColumn("batch_id", lit(i))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/quarantine/v=$i")
    }
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1)
      .contains((3L, 4L)))
    assert(VersionedPointer.historySegments(s"$dir/quarantine") ==
      Seq((0L, 2L), (3L, 4L)))
    assert(union(VersionedPointer.committedSubDirs(dir, "quarantine")) ==
      subBefore ++ Seq((400L, 4L), (500L, 5L)))
  }

  test("a real modal sink's verdict and quarantine logs fold together and read back identically") {
    // the ModalQuarantineSpec harness: frozen image cells + seeded
    // history, an ingest stream with poisoned payloads — here the
    // claim under test is that the sink's TWO versioned logs (verdicts
    // + the sparse quarantine sibling) fold as one cut and every
    // reader is fold-blind
    val name = s"graft_histfold_img_${ProcessHandle.current().pid()}"
    val out = tmp("graft-histfold-modal")
    val docs = graft.core.Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))
    val hist = Clustering.imageFeaturesOf(spark,
      docs.filter(col("bucket") < 200).select("doc_id", "text"))
      .localCheckpoint(true)
    val cents = Clustering.lloydCentroids(
      hist.select(col("vec_id"),
        transform(col("hist"), x => x.cast("long")).as("qv")), 8, 2)
      .localCheckpoint(true)
    ClusterIndex.Layout.write(spark, ClusterIndex.assignImageBatch(hist, cents),
      name, java.nio.file.Paths.get(IndexCommit.indexRoot, name))
    hist.unpersist()
    try {
      val rows = docs.filter(col("bucket") >= 200)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
        .sortBy(_._1)
      val thirds = rows.grouped(math.max(1, (rows.size + 2) / 3)).toSeq
      def batchOf(part: Seq[(Long, String)], poison: Boolean): DataFrame =
        part.map { case (id, text) =>
          val b = MediaCodecs.PpmCodec.encode(text)
          if (poison && id == part.head._1) b(0) = 'X'.toByte
          (id, b)
        }.toDF("vec_id", "image")
      def verdictRows = ModalDedupIngest.verdicts(spark, out)
        .collect().map(_.toSeq).toSet
      def quarRows = ModalDedupIngest.quarantined(spark, out)
        .collect().map(_.toSeq).toSet

      assert(ImageDedupSink.applyBatch(batchOf(thirds(0), poison = true),
        0L, name, cents, out))
      assert(ImageDedupSink.applyBatch(batchOf(thirds(1), poison = true),
        1L, name, cents, out))
      val (v2, q2) = (verdictRows, quarRows)
      assert(q2.size == 2, "both poisoned arrivals must be quarantined")

      // fold BOTH logs under one cut, between the owner's batches
      assert(VersionedPointer.compactHistory(spark, out, keepLast = 0,
        subs = Seq("quarantine")).contains((0L, 1L)))
      assert(VersionedPointer.historySegments(s"$out/quarantine") ==
        Seq((0L, 1L)))
      assert(verdictRows == v2 && quarRows == q2,
        "both readers must be fold-blind")

      // the stream continues past the fold (batch 2 clean — it writes
      // an EMPTY quarantine dir, the sparse-sibling shape), and a
      // second fold carries the sub forward WITHOUT being named
      assert(ImageDedupSink.applyBatch(batchOf(thirds(2), poison = false),
        2L, name, cents, out))
      val (v3, q3) = (verdictRows, quarRows)
      assert(v2.subsetOf(v3) && q3 == q2)
      assert(VersionedPointer.compactHistory(spark, out, keepLast = 0)
        .contains((2L, 2L)))
      assert(verdictRows == v3 && quarRows == q3,
        "the unnamed sub must be re-folded, not stranded")
    } finally {
      cents.unpersist()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      Lake.deleteTree(s"${IndexCommit.indexRoot}/$name")
      Lake.deleteTree(out)
    }
  }

  test("torn store: a crashed fold publish reads complete, repairs on the next fold") {
    val local = tmp("graft-histfold-torn")
    val dir = "torn:" + local
    (0L to 3L).foreach(i => writeBatch(dir, i, Seq(i)))
    val before = union(VersionedPointer.committedDirs(dir))
    try {
      TornRenameFileSystem.arm("seg=0-", afterNFiles = 1)
      intercept[java.io.IOException](
        VersionedPointer.compactHistory(spark, dir, keepLast = 1))
      assert(TornRenameFileSystem.crashes > 0, "the torn rename must fire")
      // the torn remnant is unmarked, so the chain ends benignly and
      // the sources — retired only after a VERIFIED publish — still
      // carry the whole history
      assert(union(VersionedPointer.committedDirs(dir)) == before,
        "a crashed fold must leave the view complete")

      TornRenameFileSystem.disarm()
      assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1)
        .contains((0L, 2L)))
      assert(union(VersionedPointer.committedDirs(dir)) == before)
    } finally {
      TornRenameFileSystem.disarm()
      Lake.deleteTree(dir)
    }
  }

  test("an absent destination restores from its retiree; covered leftovers are swept") {
    val dir = tmp("graft-histfold-restore")
    (0L to 3L).foreach(i => writeBatch(dir, i, Seq(i)))
    val before = union(VersionedPointer.committedDirs(dir))
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1)
      .contains((0L, 2L)))

    // a re-publish that crashed between retire and rename: destination
    // fully absent, complete segment in a dead owner's retiree — only
    // the retiree's NAME says a segment belongs here
    val deadPid = Int.MaxValue.toLong - 13
    assert(Lake.publishDir(s"$dir/seg=0-2", s"$dir/seg=0-2.old-$deadPid"))
    assert(!Lake.exists(s"$dir/seg=0-2"))
    assert(VersionedPointer.historySegments(dir) == Seq((0L, 2L)),
      "discovery must restore the retiree through the absent destination")
    assert(Lake.exists(s"$dir/seg=0-2"))
    assert(union(VersionedPointer.committedDirs(dir)) == before)

    // a crash between publish and source retire leaves covered v dirs —
    // invisible to readers, swept by the next fold
    Seq(9L).toDF("x").withColumn("batch_id", lit(1L))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v=1")
    assert(union(VersionedPointer.committedDirs(dir)) == before,
      "a covered leftover is invisible to readers")
    writeBatch(dir, 4L, Seq(4L))
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1)
      .contains((3L, 3L)))
    assert(!Lake.exists(s"$dir/v=1"), "the sweep reclaims covered leftovers")
    assert(union(VersionedPointer.committedDirs(dir)) ==
      before ++ Seq((4L, 4L)))
  }

  test("a dead retiree of a superseded segment is swept, not stranded behind its reclaimed destination") {
    val dir = tmp("graft-histfold-stranded")
    (0L to 3L).foreach(i => writeBatch(dir, i, Seq(i)))
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1)
      .contains((0L, 2L)))
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 0,
      major = true).contains((0L, 3L)))
    // the crashed-republish remnant of the now-superseded seg=0-2: its
    // destination is gone (the major fold's sweep), so the bound-again
    // janitor test can never hold — the superseded rule must reclaim it
    val deadPid = Int.MaxValue.toLong - 17
    Lake.mkdirs(s"$dir/seg=0-2.old-$deadPid")
    Lake.writeString(s"$dir/seg=0-2.old-$deadPid/part-0", "stale")
    writeBatch(dir, 4L, Seq(4L))
    writeBatch(dir, 5L, Seq(5L))
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1)
      .contains((4L, 4L)))
    assert(!Lake.exists(s"$dir/seg=0-2.old-$deadPid"),
      "the sweep must reclaim a dead retiree whose destination is superseded")
  }

  test("an unreachable segment surviving only as a dead retiree restores and refuses loudly") {
    val dir = tmp("graft-histfold-retiree-hole")
    (0L to 2L).foreach(i => writeBatch(dir, i, Seq(i)))
    assert(VersionedPointer.compactHistory(spark, dir, keepLast = 1)
      .contains((0L, 1L)))
    // a self-consistent segment claiming ids 5-6, surviving ONLY as a
    // dead owner's retiree (destination absent): its sources were
    // retired when it first verified, so serving around it is the same
    // silent hole — the guard must restore the evidence and refuse
    val ghost = s"$dir/seg=5-6"
    Seq(55L).toDF("x").withColumn("batch_id", lit(5L))
      .coalesce(1).write.mode("overwrite").parquet(ghost)
    IndexCommit.adoptUnmarked(Paths.get(ghost),
      VersionedPointer.segFp(5L, 6L))
    val deadPid = Int.MaxValue.toLong - 19
    assert(Lake.publishDir(ghost, s"$ghost.old-$deadPid"))
    assert(!Lake.exists(ghost))
    val e = intercept[IllegalStateException](
      VersionedPointer.committedDirs(dir))
    assert(e.getMessage.contains("hole"))
    assert(Lake.exists(ghost), "the restore must bring the evidence back")
  }

  test("a valid segment the chain cannot reach is a loud hole, never served around") {
    val dir = tmp("graft-histfold-hole")
    (0L to 1L).foreach(i => writeBatch(dir, i, Seq(i)))
    // plant a self-consistent segment claiming ids 5-6 — the state a
    // genuine loss of the 2-4 fold would leave
    val ghost = s"$dir/seg=5-6"
    Seq(55L).toDF("x").withColumn("batch_id", lit(5L))
      .coalesce(1).write.mode("overwrite").parquet(ghost)
    IndexCommit.adoptUnmarked(Paths.get(ghost),
      VersionedPointer.segFp(5L, 6L))
    val e = intercept[IllegalStateException](
      VersionedPointer.committedDirs(dir))
    assert(e.getMessage.contains("hole"))
  }
}
