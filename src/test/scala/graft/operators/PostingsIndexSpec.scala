package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec

/** The persisted term-bucketed postings index behind q91: probes must
  * (a) reproduce q88's from-raw-text scores bit-for-bit, (b) read only
  * the buckets the query terms hash into (bucket pruning on the literal
  * IN predicate — the single-bucket-column design exists for exactly
  * this), and (c) follow the BandIndex freshness contract: rebuild on
  * corpus fingerprint drift, re-register without rebuilding after a
  * catalog loss (JVM restart).
  */
class PostingsIndexSpec extends SparkSpec {

  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sf0001).collect().toSeq
      .map(_.toSeq)

  test("q91 (indexed probe) emits q88's rows bit-for-bit") {
    val fromText = q("q88_bm25_topk")
    val fromIndex = q("q91_bm25_indexed")
    assert(fromText.nonEmpty)
    assert(fromIndex == fromText)
  }

  test("the probe scan bucket-prunes to the query terms' buckets") {
    val plan = graft.SparkEntry.queries("q91_bm25_indexed")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.nonEmpty, s"no bucket pruning in plan:\n$plan")
    val (k, n) = (sel.get.group(1).toInt, sel.get.group(2).toInt)
    assert(n == IndexCommit.numBuckets)
    assert(k < n, s"probe read all $n buckets — pruning did not engage")
    // 8 query terms can hash into at most 8 buckets
    assert(k <= 8, s"selected $k buckets for 8 terms")
  }

  test("q92 loop-end (phase 3, full corpus indexed) equals q88's ranking") {
    val q92 = graft.SparkEntry.queries("q92_postings_maintenance")(spark, sf0001)
      .collect().toSeq
    val phase3 = q92.filter(_.getInt(0) == 3).map(_.toSeq.drop(1))
    val q88 = q("q88_bm25_topk")
    assert(phase3.nonEmpty && phase3 == q88)
    // and the phases must DIFFER somewhere: the corpus meta deltas shift
    // idf/length normalization, which is what the maintenance gate tests
    val phase1 = q92.filter(_.getInt(0) == 1).map(_.toSeq.drop(1))
    assert(phase1 != q88, "phase 1 scoring corpus must differ from full")
  }

  test("append still works against a re-registered index (sort-spec parity)") {
    // regression: register() must declare SORTED BY matching the
    // writer's sortBy — without it the post-restart append path threw
    // "Specified bucketing does not match that of the existing table",
    // breaking RetrievalIndexSink's loop after any JVM restart
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "graft_postings_rereg_test"
    val path = Files.createTempDirectory("graft-postings-rereg").resolve("idx")
    try {
      val hist = spark.read.parquet(s"$sf0001/documents.parquet")
        .select("doc_id", "text").filter(col("doc_id") % 2 === 0)
      PostingsIndex.buildIndexDocs(spark, hist, name, path)
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      PostingsIndex.Layout.register(spark, name, path)
      val batch = Seq((999999L, "alpha beta gamma appended batch document"))
        .toDF("doc_id", "text")
      PostingsIndex.append(spark, name, path, batch) // must not throw
      assert(spark.table(name).filter(col("doc_id") === 999999L).count() > 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS `$name`")
  }

  test("fingerprint drift rebuilds; catalog loss re-registers without rebuild") {
    val tmp = Files.createTempDirectory("graft-postings-fp")
    val corpus = tmp.resolve("corpus")
    Files.createDirectories(corpus)
    Files.copy(Paths.get(s"$sf0001/documents.parquet"),
      corpus.resolve("documents.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    val dir = corpus.toString
    val name = PostingsIndex.Layout.tableNameFor(dir)
    val idxDir = Paths.get(IndexCommit.indexRoot, name)
    try {
      val (n1, docs1, _) = PostingsIndex.ensure(spark, dir)
      assert(n1 == name && spark.catalog.tableExists(name))
      // n_docs must count ALL docs, including any with zero word tokens
      assert(docs1 ==
        graft.core.Tables(spark, dir, "documents").count())
      val fp1 = Files.readString(idxDir.resolve("_GRAFT_FP"))
      val mtimes1 = Files.list(idxDir).sorted.map[String](p =>
        s"$p:${Files.getLastModifiedTime(p)}").toArray.mkString("\n")

      // catalog loss (fresh JVM): drop the table, ensure() must
      // re-register the on-disk index without touching its files
      spark.sql(s"DROP TABLE `$name`")
      val (_, docs2, _) = PostingsIndex.ensure(spark, dir)
      assert(docs2 == docs1 && spark.catalog.tableExists(name))
      val mtimes2 = Files.list(idxDir).sorted.map[String](p =>
        s"$p:${Files.getLastModifiedTime(p)}").toArray.mkString("\n")
      assert(mtimes2 == mtimes1, "re-register must not rewrite the index")

      // corpus rewrite (driver regenerates testdata): mtime moves, the
      // fingerprint drifts, ensure() must rebuild
      Files.setLastModifiedTime(corpus.resolve("documents.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 5000))
      PostingsIndex.ensure(spark, dir)
      val fp2 = Files.readString(idxDir.resolve("_GRAFT_FP"))
      assert(fp2 != fp1, "fingerprint must track the corpus rewrite")
      // and the rebuilt index still answers identically
      val probe = PostingsIndex.probeScores(spark, dir,
        Seq(1L -> "hash", 1L -> "join")).collect()
      assert(probe.nonEmpty)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(idxDir.toFile)
      rm(tmp.toFile)
    }
  }
}
