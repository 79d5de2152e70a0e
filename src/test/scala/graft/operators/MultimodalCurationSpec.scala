package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q123/q128, the MULTIMODAL curation capstones: the chained oracles
  * gate the values; this spec pins what they cannot see —
  *  (a) the runs serve the persisted indexes (text FpIndex, benchmark
  *      BloomIndex, image ClusterIndex — q128 adds the audio
  *      ClusterIndex as the fourth) and rebuild none of them;
  *  (b) the attachment semantics: `has_image`/`has_audio` track their
  *      arrival rules (overlapping moduli — some docs carry BOTH),
  *      every shipped attachment passed its modality's prune, and each
  *      modality stage is LOAD-BEARING IN COMPOSITION (docs the
  *      previous capstone ships are dropped for the new modality
  *      alone);
  *  (c) the s2i plan: the within-cell pair join still rides the image
  *      index's cid bucketing with the %3 attachment filter pushed into
  *      the bucketed scan — no exchange appears on either side (the
  *      audio twin of this plan pin is AudioDedupSpec's).
  */
class MultimodalCurationSpec extends SparkSpec {

  private val dir = sf0001

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, dir)

  test("q123 serves all three persisted indexes; none rebuilt in-line") {
    val fpName = FpIndex.ensure(spark, dir)
    val blName = BloomIndex.ensure(spark, dir)
    val imName = ClusterIndex.ensure(spark, dir, ClusterIndex.Image)
    def t(root: String, n: String) =
      Files.getLastModifiedTime(Paths.get(root, n).resolve("_GRAFT_FP"))
    val named = Seq(IndexCommit.indexRoot -> fpName,
      IndexCommit.indexRoot -> blName, IndexCommit.indexRoot -> imName)
    val m0 = named.map { case (r, n) => t(r, n) }
    // simulate a fresh JVM: catalog entries gone, files on disk
    named.foreach { case (_, n) => spark.sql(s"DROP TABLE IF EXISTS `$n`") }
    assert(run("q123_multimodal_curation").collect().nonEmpty)
    named.foreach { case (_, n) => assert(spark.catalog.tableExists(n),
      s"q123 must re-register and serve the persisted $n") }
    assert(named.map { case (r, n) => t(r, n) } == m0,
      "a q123 run must never rebuild a persisted index in-line")
  }

  test("attachment semantics: arrival rule, prune respected, load-bearing") {
    val out = run("q123_multimodal_curation")
      .select("doc_id", "has_image").distinct().collect()
    // has_image is exactly the arrival rule (every third doc)
    out.foreach(r => assert(r.getBoolean(1) == (r.getLong(0) % 3 == 0),
      s"doc ${r.getLong(0)}: has_image must track the arrival rule"))
    // the prune verdicts, recomputed from the same persisted index the
    // pipeline reads
    val verd = Clustering.semdedupFrom(
        spark.table(ClusterIndex.ensure(spark, dir, ClusterIndex.Image))
          .filter(col("vec_id") % 3 === 0))
      .select("vec_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val shippedAttach = out.filter(_.getBoolean(1)).map(_.getLong(0))
    assert(shippedAttach.nonEmpty, "some attachment docs must ship")
    shippedAttach.foreach(id => assert(verd(id),
      s"doc $id shipped although its attachment was pruned"))
    assert(verd.values.exists(!_),
      "the corpus must actually exercise the image prune")
    // LOAD-BEARING IN COMPOSITION: a doc the text-only chain ships but
    // whose attachment is an image near-dup must be dropped here —
    // the image stage changes the final corpus, not just a column
    val textOnly = run("q115_full_curation")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val mixed = out.map(_.getLong(0)).toSet
    val droppedForImage = textOnly
      .filter(id => id % 3 == 0 && !verd.getOrElse(id, true))
    assert(droppedForImage.nonEmpty,
      "corpus must contain text-surviving docs with duplicate attachments")
    droppedForImage.foreach(id => assert(!mixed.contains(id),
      s"doc $id has a pruned attachment and must not ship in q123"))
  }

  test("q123 lake mode: m-prefixed snapshots, byte-identical, resumable") {
    val baseline = run("q123_multimodal_curation").collect().toSeq
    val stageRoot = Files.createTempDirectory("graft-q123-stages").toString
    System.setProperty("graft.stage.dir", stageRoot)
    try {
      val first = run("q123_multimodal_curation").collect().toSeq
      assert(first == baseline,
        "lake-mode q123 must be byte-identical to the in-engine mode")
      // the image stage has its own snapshot, under the m-prefixed
      // names that keep the two capstones' stage trees disjoint
      val stages = Seq("ms0m", "ms1", "ms2", "ms2i", "ms3", "ms4", "ms5")
      stages.foreach(st => assert(
        Files.exists(Paths.get(stageRoot, st, "_GRAFT_DONE")),
        s"stage $st must publish a snapshot"))
      assert(!Files.exists(Paths.get(stageRoot, "s2")),
        "q115's un-prefixed stage names must not be touched by q123")
      def mtime(st: String) = Files.getLastModifiedTime(
        Paths.get(stageRoot, st, "_GRAFT_DONE"))
      val m1 = stages.map(mtime)
      val resumed = run("q123_multimodal_curation").collect().toSeq
      assert(resumed == baseline)
      assert(stages.map(mtime) == m1,
        "a fully-resumed q123 run must not rewrite any snapshot")
    } finally {
      System.clearProperty("graft.stage.dir")
      IndexCommit.deleteTree(Paths.get(stageRoot))
    }
  }

  test("q128 serves all FOUR persisted indexes; none rebuilt in-line") {
    val fpName = FpIndex.ensure(spark, dir)
    val blName = BloomIndex.ensure(spark, dir)
    val imName = ClusterIndex.ensure(spark, dir, ClusterIndex.Image)
    val auName = ClusterIndex.ensure(spark, dir, ClusterIndex.Audio)
    def t(root: String, n: String) =
      Files.getLastModifiedTime(Paths.get(root, n).resolve("_GRAFT_FP"))
    val named = Seq(IndexCommit.indexRoot -> fpName,
      IndexCommit.indexRoot -> blName, IndexCommit.indexRoot -> imName,
      IndexCommit.indexRoot -> auName)
    val m0 = named.map { case (r, n) => t(r, n) }
    named.foreach { case (_, n) => spark.sql(s"DROP TABLE IF EXISTS `$n`") }
    assert(run("q128_trimodal_curation").collect().nonEmpty)
    named.foreach { case (_, n) => assert(spark.catalog.tableExists(n),
      s"q128 must re-register and serve the persisted $n") }
    assert(named.map { case (r, n) => t(r, n) } == m0,
      "a q128 run must never rebuild a persisted index in-line")
  }

  test("q128 attachment semantics: both moduli, both prunes, both load-bearing") {
    val out = run("q128_trimodal_curation")
      .select("doc_id", "has_image", "has_audio").distinct().collect()
    // both flags are exactly their arrival rules — and the moduli
    // OVERLAP: the corpus must ship docs carrying both attachments
    out.foreach { r =>
      assert(r.getBoolean(1) == (r.getLong(0) % 3 == 0),
        s"doc ${r.getLong(0)}: has_image must track the arrival rule")
      assert(r.getBoolean(2) == (r.getLong(0) % 4 == 1),
        s"doc ${r.getLong(0)}: has_audio must track the arrival rule")
    }
    // the moduli OVERLAP at the arrival level: both-attachment docs
    // enter the pipeline (whether one ships is data-dependent — the
    // audio prune keeps roughly one clip per cell, so surviving BOTH
    // prunes AND the text chain is rare on a 500-doc corpus)
    val arrivals = graft.core.Tables(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
      .filter(id => id % 3 == 0 && id % 4 == 1)
    assert(arrivals.nonEmpty,
      "the corpus must contain docs carrying BOTH attachments")
    // every shipped audio attachment passed the audio prune, recomputed
    // from the same persisted index the pipeline reads
    val verd = Clustering.semdedupFrom(
        spark.table(ClusterIndex.ensure(spark, dir, ClusterIndex.Audio))
          .filter(col("vec_id") % 4 === 1))
      .select("vec_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val shipped = out.filter(_.getBoolean(2)).map(_.getLong(0))
    assert(shipped.nonEmpty, "some audio-attachment docs must ship")
    shipped.foreach(id => assert(verd(id),
      s"doc $id shipped although its audio attachment was pruned"))
    assert(verd.values.exists(!_),
      "the corpus must actually exercise the audio prune")
    // LOAD-BEARING IN COMPOSITION against q123: a doc the text+image
    // chain ships but whose audio clip is a near-dup must drop here
    val mixed = run("q123_multimodal_curation")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val tri = out.map(_.getLong(0)).toSet
    val droppedForAudio = mixed
      .filter(id => id % 4 == 1 && !verd.getOrElse(id, true))
    assert(droppedForAudio.nonEmpty,
      "corpus must contain q123-surviving docs with duplicate clips")
    droppedForAudio.foreach(id => assert(!tri.contains(id),
      s"doc $id has a pruned clip and must not ship in q128"))
  }

  test("q131 serves all FIVE persisted indexes; video stage load-bearing") {
    val named = Seq(
      IndexCommit.indexRoot -> FpIndex.ensure(spark, dir),
      IndexCommit.indexRoot -> BloomIndex.ensure(spark, dir),
      IndexCommit.indexRoot -> ClusterIndex.ensure(spark, dir, ClusterIndex.Image),
      IndexCommit.indexRoot -> ClusterIndex.ensure(spark, dir, ClusterIndex.Audio),
      IndexCommit.indexRoot -> ClusterIndex.ensure(spark, dir, ClusterIndex.Video))
    def t(root: String, n: String) =
      Files.getLastModifiedTime(Paths.get(root, n).resolve("_GRAFT_FP"))
    val m0 = named.map { case (r, n) => t(r, n) }
    named.foreach { case (_, n) => spark.sql(s"DROP TABLE IF EXISTS `$n`") }
    val out = run("q131_quadmodal_curation")
      .select("doc_id", "has_video").distinct().collect()
    assert(out.nonEmpty)
    named.foreach { case (_, n) => assert(spark.catalog.tableExists(n),
      s"q131 must re-register and serve the persisted $n") }
    assert(named.map { case (r, n) => t(r, n) } == m0,
      "a q131 run must never rebuild a persisted index in-line")
    // has_video is exactly the arrival rule; every shipped clip passed
    // the video prune; and the stage is load-bearing vs q128
    out.foreach(r => assert(r.getBoolean(1) == (r.getLong(0) % 5 == 2),
      s"doc ${r.getLong(0)}: has_video must track the arrival rule"))
    val verd = Clustering.semdedupFrom(
        spark.table(ClusterIndex.ensure(spark, dir, ClusterIndex.Video))
          .filter(col("vec_id") % 5 === 2))
      .select("vec_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    out.filter(_.getBoolean(1)).map(_.getLong(0)).foreach(id =>
      assert(verd(id), s"doc $id shipped although its clip was pruned"))
    val tri = run("q128_trimodal_curation")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val quad = out.map(_.getLong(0)).toSet
    val droppedForVideo = tri
      .filter(id => id % 5 == 2 && !verd.getOrElse(id, true))
    assert(droppedForVideo.nonEmpty,
      "corpus must contain q128-surviving docs with duplicate clips")
    droppedForVideo.foreach(id => assert(!quad.contains(id),
      s"doc $id has a pruned clip and must not ship in q131"))
  }

  test("q128 lake mode: t-prefixed snapshots, byte-identical, disjoint trees") {
    val baseline = run("q128_trimodal_curation").collect().toSeq
    val stageRoot = Files.createTempDirectory("graft-q128-stages").toString
    System.setProperty("graft.stage.dir", stageRoot)
    try {
      val first = run("q128_trimodal_curation").collect().toSeq
      assert(first == baseline,
        "lake-mode q128 must be byte-identical to the in-engine mode")
      val stages = Seq("ts0m", "ts1", "ts2", "ts2i", "ts2a", "ts3", "ts4", "ts5")
      stages.foreach(st => assert(
        Files.exists(Paths.get(stageRoot, st, "_GRAFT_DONE")),
        s"stage $st must publish a snapshot"))
      assert(!Files.exists(Paths.get(stageRoot, "ms2i")) &&
          !Files.exists(Paths.get(stageRoot, "s2")),
        "q115/q123 stage names must not be touched by q128")
    } finally {
      System.clearProperty("graft.stage.dir")
      IndexCommit.deleteTree(Paths.get(stageRoot))
    }
  }

  test("s2i plan: the %3-filtered pair join stays bucketed, exchange-free") {
    val name = ClusterIndex.ensure(spark, dir, ClusterIndex.Image)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // exactly the frame the s2i stage builds: the attachment filter
      // must PUSH into the bucketed scan, not force an exchange
      val plan = Clustering.semdedupFrom(
          spark.table(name).filter(col("vec_id") % 3 === 0))
        .queryExecution.executedPlan
      def sideBucketedNoShuffle(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
          p.collect {
            case f: FileSourceScanExec
                if f.tableIdentifier.exists(_.table == name) => f
          }.forall(_.bucketedScan)
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.exists(j =>
          sideBucketedNoShuffle(j.left) && sideBucketedNoShuffle(j.right)),
        s"no exchange-free bucketed pair join under the %3 filter:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
    }
  }
}
