package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row

import graft.SparkSpec

/** q115, the composed curation capstone: the oracle gate proves the
  * values; this spec pins the two properties the oracle cannot see —
  * (a) the run SERVES both persisted indexes (re-registers them into a
  * bare catalog) and never rebuilds one in-line, and (b) the char-span
  * stage genuinely engages IN COMPOSITION (a doc whose only defect is a
  * duplicated span survives every other stage and ships spliced, while
  * the span's owner ships intact) — proven on an engineered corpus
  * where the span-sharing pair is NOT an LSH near-dup pair, so only the
  * winnow stage can see the duplication.
  */
class CurationPipelineSpec extends SparkSpec {

  private def run(dir: String): Seq[Row] =
    graft.SparkEntry.queries("q115_full_curation")(spark, dir)
      .collect().toSeq

  private def md5bucket(s: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
    Integer.parseInt(
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(2), 16)
  }

  test("q115 reuses both persisted indexes: re-registered, never rebuilt") {
    val dir = sf0001
    val fpName = FpIndex.ensure(spark, dir)
    val blName = BloomIndex.ensure(spark, dir)
    def fpTime(root: String, name: String) =
      Files.getLastModifiedTime(Paths.get(root, name).resolve("_GRAFT_FP"))
    val (m1, m2) =
      (fpTime(IndexCommit.indexRoot, fpName), fpTime(IndexCommit.indexRoot, blName))
    // simulate a fresh JVM: catalog entries gone, files on disk
    spark.sql(s"DROP TABLE IF EXISTS `$fpName`")
    spark.sql(s"DROP TABLE IF EXISTS `$blName`")
    val out = run(dir)
    assert(out.nonEmpty)
    assert(spark.catalog.tableExists(fpName),
      "q115 must serve char-span dedup from the persisted FpIndex")
    assert(spark.catalog.tableExists(blName),
      "q115 must serve decontamination from the persisted BloomIndex")
    assert(fpTime(IndexCommit.indexRoot, fpName) == m1 &&
        fpTime(IndexCommit.indexRoot, blName) == m2,
      "a q115 run must never rebuild a persisted index in-line")
  }

  test("the span stage engages in composition; evidence columns consistent") {
    // engineered corpus: every doc has its own disjoint vocabulary
    // (no LSH pairs, no exact-dup keys, uniform LM scores — every
    // other stage passes everything through), EXCEPT docs A < B which
    // share one long span. Only the winnow stage can see it: B must
    // ship spliced, A intact. Train-side membership is arranged by
    // CONSTRUCTION: ids are picked so every corpus doc's ingest bucket
    // is < 250 and its own-group split hash is < 204 (train).
    val corpus = Files.createTempDirectory("graft-q115-span").toString
    val trainIds = Iterator.from(1)
      .filter(i => md5bucket(s"en:$i") < 250 && md5bucket(s"g:$i") < 204)
      .take(30).toSeq
    val benchIds = Iterator.from(1)
      .filter(i => md5bucket(s"en:$i") >= 250).take(3).toSeq
    val span = (1 to 14).map(i => s"zqspan$i").mkString(" ")
    assert(span.length >= Winnow.K + Winnow.W - 1)
    def filler(id: Long, part: Int, n: Int): String =
      (1 to n).map(i => s"w${id}x${part}w$i").mkString(" ")
    val aId = trainIds.head.toLong
    val bId = trainIds(14).toLong
    def text(id: Long): String =
      if (id == aId || id == bId)
        s"${filler(id, 1, 60)} $span ${filler(id, 2, 60)}"
      else s"${filler(id, 1, 40)}"
    import spark.implicits._
    (trainIds.map(_.toLong).map(i => (i, text(i), "en", s"src${i % 7}")) ++
        benchIds.map(_.toLong).map(i =>
          (i, filler(i, 9, 40), "en", s"src${i % 7}")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$corpus/documents.parquet")
    val out = run(corpus)
    val byDoc = out.groupBy(_.getLong(0))
    // every train-side doc survives (nothing else filters here)
    assert(byDoc.keySet == trainIds.map(_.toLong).toSet,
      s"expected all ${trainIds.size} train docs, got ${byDoc.keySet.size}")
    def spansOf(id: Long) = byDoc(id).head.getLong(4)
    def removedOf(id: Long) = byDoc(id).head.getLong(5)
    assert(spansOf(aId) == 0 && removedOf(aId) == 0,
      "the span's keep-first owner must ship intact")
    assert(spansOf(bId) >= 1, "the later doc's duplicated span must be found")
    assert(removedOf(bId) >= span.length - 2 * (Winnow.K + Winnow.W),
      s"splice must remove ~the span, removed only ${removedOf(bId)}")
    // evidence consistency + mix fanout on every row
    out.foreach { r =>
      assert((r.getLong(4) == 0) == (r.getLong(5) == 0),
        "n_spans and n_chars_removed must be zero together")
    }
    byDoc.values.foreach { rows =>
      val w = rows.head.getInt(10)
      assert(rows.map(_.getInt(11)).sorted == (1 to w).toSeq,
        "every doc must fan out into epochs 1..weight")
    }
    // cleanup the temp corpus's indexes (built once by this run)
    Seq(FpIndex.Layout.tableNameFor(corpus) -> IndexCommit.indexRoot,
        BloomIndex.Layout.tableNameFor(corpus) -> IndexCommit.indexRoot,
        BandIndex.Layout.tableNameFor(corpus) -> IndexCommit.indexRoot)
      .foreach { case (n, root) =>
        spark.sql(s"DROP TABLE IF EXISTS `$n`")
        IndexCommit.deleteTree(Paths.get(root, n))
      }
  }

  test("s0m markup ingest: extraction recovers originals; gate is load-bearing") {
    // engineered corpus pinning the persisted-FpIndex contract the
    // oracle proves only in aggregate: a WRAPPED doc (id % 5 == 0)
    // must ship with its ORIGINAL text recovered from the markup
    // (n_bp_dropped = 3 boilerplate lines), an unwrapped doc ships
    // untouched (n_bp_dropped = 0), and a short stopword-poor doc is
    // dropped by its own content line's verdict BEFORE s1. Long
    // disjoint-vocabulary texts keep every later stage pass-through.
    val corpus = Files.createTempDirectory("graft-q115-bp").toString
    val ids = Iterator.from(1)
      .filter(i => md5bucket(s"en:$i") < 250 && md5bucket(s"g:$i") < 204)
    val wrapped = ids.filter(_ % 5 == 0).next().toLong
    val bare = ids.filter(_ % 5 != 0).next().toLong
    val dropped = ids.filter(_ % 5 != 0).next().toLong
    def filler(id: Long, n: Int): String =
      (1 to n).map(i => s"v${id}q$i").mkString(" ")
    val benchId = Iterator.from(1)
      .filter(i => md5bucket(s"en:$i") >= 250).next().toLong
    import spark.implicits._
    Seq(
      (wrapped, filler(wrapped, 40), "en", "src1"),
      (bare, filler(bare, 40), "en", "src2"),
      // 5 tokens ~ 35 chars: >= MinLen, < NearLong, zero stopwords
      (dropped, filler(dropped, 5), "en", "src3"),
      // one held-out benchmark doc so the BloomIndex has content
      (benchId, filler(benchId, 40), "en", "src4"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$corpus/documents.parquet")
    val out = run(corpus)
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.keySet == Set(wrapped, bare),
      s"short stopword-poor doc $dropped must drop at ingest; got ${byDoc.keySet}")
    assert(byDoc(wrapped).head.getInt(3) == 3,
      "the wrapped doc must record its 3 stripped boilerplate lines")
    assert(byDoc(bare).head.getInt(3) == 0)
    // the FpIndex contract: survivors carry byte-identical original
    // text — proven here by the span stage finding NOTHING to splice
    // (the index was built over the originals; a rewritten text would
    // misalign positions and the splice/evidence would light up)
    out.foreach(r => assert(r.getLong(4) == 0 && r.getLong(5) == 0))
    Seq(FpIndex.Layout.tableNameFor(corpus) -> IndexCommit.indexRoot,
        BloomIndex.Layout.tableNameFor(corpus) -> IndexCommit.indexRoot,
        BandIndex.Layout.tableNameFor(corpus) -> IndexCommit.indexRoot)
      .foreach { case (n, root) =>
        spark.sql(s"DROP TABLE IF EXISTS `$n`")
        IndexCommit.deleteTree(Paths.get(root, n))
      }
  }

  test("lake-mode stage barriers: snapshots resume, output byte-identical") {
    val dir = sf0001
    val baseline = run(dir) // localCheckpoint mode
    val stageRoot = Files.createTempDirectory("graft-q115-stages").toString
    System.setProperty("graft.stage.dir", stageRoot)
    try {
      val stages = Seq("s0m", "s1", "s2", "s3", "s4", "s5")
      val first = run(dir)
      assert(first == baseline,
        "lake-mode output must be byte-identical to the in-engine mode")
      stages.foreach(st => assert(
        Files.exists(Paths.get(stageRoot, st, "_GRAFT_DONE")),
        s"stage $st must publish a snapshot with its marker"))
      def mtime(st: String) = Files.getLastModifiedTime(
        Paths.get(stageRoot, st, "_GRAFT_DONE"))
      val m1 = stages.map(mtime)
      // full resume: every stage served from its snapshot, none rewritten
      val resumed = run(dir)
      assert(resumed == baseline)
      assert(stages.map(mtime) == m1,
        "a fully-resumed run must not rewrite any snapshot")
      // crash-mid-run resume: the last stage's snapshot is gone (the
      // crash window); earlier stages must resume untouched, s5 rebuilt
      IndexCommit.deleteTree(Paths.get(stageRoot, "s5"))
      val resumed2 = run(dir)
      assert(resumed2 == baseline,
        "a mid-stage resume must emit byte-identical q115 output")
      assert(stages.init.map(mtime) == m1.init,
        "stages before the crash point must resume, not recompute")
      assert(Files.exists(Paths.get(stageRoot, "s5", "_GRAFT_DONE")))
      // RULE-CHANGE staleness: a marker carrying only the corpus
      // fingerprint (no stage-rules tag — what a pre-tag binary or a
      // changed rule set leaves behind) must read as STALE and rebuild;
      // resuming across a rule change would serve stage output the
      // current rules never produced
      val corpusOnly = IndexCommit.sourceFingerprint(dir, "documents.parquet")
      Files.writeString(Paths.get(stageRoot, "s3", "_GRAFT_DONE"), corpusOnly)
      val resumed3 = run(dir)
      assert(resumed3 == baseline)
      assert(Files.readString(
          Paths.get(stageRoot, "s3", "_GRAFT_DONE"))
          .linesIterator.next().trim ==
          CurationPipeline.lakeFingerprint(dir),
        "a marker without the stage-rules tag must rebuild under the " +
          "full corpus+rules fingerprint")
      // CRASH-LEFTOVER reclaim: an abandoned `.build-<pid>` temp
      // sibling under the stage root (a crashed prior run's residue)
      // is swept on the next lake-mode entry — without this, every
      // crash-resume cycle leaks one tree
      val dead = Iterator.iterate(3999999999L)(_ - 7)
        .find(p => !ProcessHandle.of(p).isPresent).get
      val orphan = Paths.get(stageRoot, s"s1.build-$dead")
      Files.createDirectories(orphan)
      Files.writeString(orphan.resolve("marker"), "x")
      run(dir)
      assert(!Files.exists(orphan),
        "an abandoned stage build temp must be reclaimed at lake entry")
    } finally {
      System.clearProperty("graft.stage.dir")
      IndexCommit.deleteTree(Paths.get(stageRoot))
    }
  }

  // ---- q118, the continuous-curation maintenance loop ----

  private def run118(dir: String): Seq[Row] =
    graft.SparkEntry.queries("q118_curation_maintenance")(spark, dir)
      .collect().toSeq

  test("q118 runs on a pid-scoped scratch; production indexes untouched") {
    val dir = sf0001
    val fpName = FpIndex.ensure(spark, dir)
    val blName = BloomIndex.ensure(spark, dir)
    def fpTime(root: String, name: String) =
      Files.getLastModifiedTime(Paths.get(root, name).resolve("_GRAFT_FP"))
    val (m1, m2) =
      (fpTime(IndexCommit.indexRoot, fpName), fpTime(IndexCommit.indexRoot, blName))
    val out = run118(dir)
    assert(out.map(_.getInt(0)).toSet == Set(1, 2),
      "both maintenance phases must emit verdicts")
    assert(fpTime(IndexCommit.indexRoot, fpName) == m1,
      "q118 must never touch the production FpIndex (scratch only)")
    assert(fpTime(IndexCommit.indexRoot, blName) == m2,
      "q118 reads the benchmark BloomIndex, never rebuilds it")
  }

  test("q118's phase-1 append is load-bearing: phase 2 splices against it") {
    // engineered corpus: disjoint per-doc vocabulary everywhere, except
    // one long span shared by exactly one batch-1 doc and one batch-2
    // doc — ABSENT from history. Phase 1 must keep the span (no owner
    // in history, none earlier in its batch); phase 2 must splice it,
    // which is only possible because phase 1's fingerprints were
    // appended into the scratch history between the probes.
    val corpus = Files.createTempDirectory("graft-q118-seam").toString
    def bkt(i: Int) = md5bucket(s"en:$i")
    val histIds = Iterator.from(1).filter(bkt(_) < 200).take(20).toSeq
    val b1Id = Iterator.from(1).filter(i =>
      bkt(i) >= 200 && bkt(i) < 230).next()
    val b2Id = Iterator.from(1).filter(i =>
      bkt(i) >= 230 && bkt(i) < 250).next()
    val benchIds = Iterator.from(1).filter(bkt(_) >= 250).take(2).toSeq
    val span = (1 to 14).map(i => s"zqseam$i").mkString(" ")
    assert(span.length >= Winnow.K + Winnow.W - 1)
    def filler(id: Long, part: Int, n: Int): String =
      (1 to n).map(i => s"w${id}x${part}w$i").mkString(" ")
    def batchText(id: Long): String =
      s"${filler(id, 1, 60)} $span ${filler(id, 2, 60)}"
    import spark.implicits._
    (histIds.map(_.toLong).map(i => (i, filler(i, 1, 40), "en", "src0")) ++
        Seq((b1Id.toLong, batchText(b1Id.toLong), "en", "src0"),
          (b2Id.toLong, batchText(b2Id.toLong), "en", "src0")) ++
        benchIds.map(_.toLong).map(i => (i, filler(i, 9, 40), "en", "src0")))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$corpus/documents.parquet")
    val out = run118(corpus)
    val byKey = out.map(r => (r.getInt(0), r.getLong(1)) -> r).toMap
    val p1 = byKey((1, b1Id.toLong))
    val p2 = byKey((2, b2Id.toLong))
    assert(p1.getLong(2) == 0 && p1.getLong(3) == 0,
      "phase 1's doc owns the span — history has no owner for it")
    assert(p2.getLong(2) >= 1 && p2.getLong(3) > 0,
      "phase 2 must splice the span owned by the APPENDED phase-1 doc")
    assert(p2.getString(11).length < batchText(b2Id.toLong).trim.length,
      "phase 2's clean_text must actually shrink")
    // disjoint vocab: nothing is contaminated; the frozen-LM gate
    // drops the batch docs (all their bigrams are unseen in history,
    // and add-1 unseen scores strictly below the in-history cutoff)
    Seq(p1, p2).foreach { r =>
      assert(!r.getBoolean(9), "no batch shingle exists in the benchmark")
      assert(!r.getBoolean(10),
        "unseen-bigram batch docs must fall below the frozen cutoff")
    }
    spark.sql(s"DROP TABLE IF EXISTS `${BloomIndex.Layout.tableNameFor(corpus)}`")
    IndexCommit.deleteTree(
      Paths.get(IndexCommit.indexRoot, BloomIndex.Layout.tableNameFor(corpus)))
    val scratch = FpIndex.Layout.tableNameFor(corpus) + "_cmaint_" +
      ProcessHandle.current().pid()
    spark.sql(s"DROP TABLE IF EXISTS `$scratch`")
    IndexCommit.deleteTree(Paths.get(IndexCommit.indexRoot, scratch))
  }
}
