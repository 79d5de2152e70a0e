package graft.operators

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.SparkSpec

/** The persisted Lloyd assignment behind q113: the serving path must
  * READ the learned cells, not re-learn them, and the within-cell pair
  * join must ride the cid bucketing with no exchange.
  */
class ClusterIndexSpec extends SparkSpec {

  private val dir = sf0001

  private def q(name: String) = Clustering.defs.find(_.name == name).get.fn

  private def rows(name: String): Seq[(Long, Long, Option[Long], Boolean)] =
    q(name)(spark, dir).collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))

  test("q113 from the persisted assignment equals q104's in-query Lloyd") {
    val want = rows("q104_semdedup_cells")
    val got = rows("q113_semdedup_indexed")
    assert(want.exists(!_._4), "corpus must contain at least one semdedup prune")
    assert(got == want)
  }

  test("q113 plan: the pair join reads the index bucketed, exchange-free") {
    ClusterIndex.ensure(spark, dir)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = q("q113_semdedup_indexed")(spark, dir)
        .queryExecution.executedPlan
      val name = ClusterIndex.Layout.tableNameFor(dir)
      val scans = plan.collect {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == name) => f
      }
      assert(scans.size == 3,
        s"pair join (2 sides) + final join-back must read the index:\n$plan")
      // the cid pair join itself: a sort-merge join with NO shuffle on
      // either side — both legs are the BUCKETED scan. (The verdict
      // join-back's scan legitimately reads non-bucketed: it joins on
      // vec_id, where cid bucketing buys nothing, and Spark's
      // auto-bucketed-scan rule drops the bucketed read there.)
      def sideBucketedNoShuffle(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
          p.collect {
            case f: FileSourceScanExec
                if f.tableIdentifier.exists(_.table == name) => f
          }.forall(_.bucketedScan)
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.exists(j =>
          sideBucketedNoShuffle(j.left) && sideBucketedNoShuffle(j.right)),
        s"no exchange-free bucketed sort-merge pair join found:\n$plan")
      // the only hash shuffles in the plan serve the vec_id legs of the
      // verdict join-back (dup aggregate + join), never the cid pairing
      val hashKeys = plan.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
          e.outputPartitioning.asInstanceOf[HashPartitioning]
            .expressions.flatMap(_.references.map(_.name))
      }
      assert(hashKeys.nonEmpty && hashKeys.flatten.toSet
          .subsetOf(Set("vec_id", "d2")),
        s"hash shuffles must carry only the vec_id legs, got $hashKeys:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
    }
  }

  test("q121 plan: the IMAGE pair join reads its index bucketed, exchange-free") {
    // the q113 plan discipline at the multimodal layer: q121's
    // within-cell self-join must ride the image index's cid bucketing
    ClusterIndex.ensure(spark, dir, ClusterIndex.Image)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = q("q121_image_semdedup")(spark, dir)
        .queryExecution.executedPlan
      val name = ClusterIndex.Image.layout.tableNameFor(dir)
      def sideBucketedNoShuffle(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
          p.collect {
            case f: FileSourceScanExec
                if f.tableIdentifier.exists(_.table == name) => f
          }.forall(_.bucketedScan)
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.exists(j =>
          sideBucketedNoShuffle(j.left) && sideBucketedNoShuffle(j.right)),
        s"no exchange-free bucketed image pair join found:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
    }
  }

  test("q121's image index is served, never rebuilt in-line") {
    val name = ClusterIndex.ensure(spark, dir, ClusterIndex.Image)
    val fpPath = java.nio.file.Paths.get(
      IndexCommit.indexRoot, name, "_GRAFT_FP")
    val before = java.nio.file.Files.getLastModifiedTime(fpPath)
    // simulate a fresh JVM: catalog entry gone, files on disk
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val out = q("q121_image_semdedup")(spark, dir).collect()
    assert(out.nonEmpty)
    assert(spark.catalog.tableExists(name),
      "the run must re-register the persisted image index")
    assert(java.nio.file.Files.getLastModifiedTime(fpPath) == before,
      "a q121 run must never rebuild the image index in-line")
  }

  test("q116 phases equal the streaming sink's applyBatch sequence") {
    // q116 is oracle-gated and runs ClusterIndex.assignBatch /
    // probeVerdicts / append — the sink's EXACT per-micro-batch code.
    // Driving the SINK over the same history/batch slices must produce
    // the identical verdict log, which extends the DuckDB oracle's
    // reach to the streaming surface by proxy.
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables(spark, dir, "embeddings")
      .withColumn("bucket",
        conv(substring(md5(col("vec_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))
    def slice(lo: Int, hi: Int) =
      emb.filter(col("bucket") >= lo && col("bucket") < hi)
        .select("vec_id", "embedding")
    val cents = Clustering.lloydCentroids(
      slice(0, 200).select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(1000000.0)).cast("long")).as("qv")),
      8, 2)
    val name = "graft_clidx_q116_equiv"
    val root = java.nio.file.Files.createTempDirectory("graft-clidx-q116")
    ClusterIndex.Layout.write(spark,
      ClusterIndex.assignBatch(slice(0, 200), cents), name,
      root.resolve("idx"))
    val outDir = root.resolve("log").toString
    import graft.streaming.ClusterIndexSink
    assert(ClusterIndexSink.applyBatch(slice(200, 230), 0L, name, cents, outDir))
    assert(ClusterIndexSink.applyBatch(slice(230, 256), 1L, name, cents, outDir))
    val sink = ClusterIndexSink.verdicts(spark, outDir)
      .select(col("batch_id") + 1, col("vec_id"), col("cid"), col("dup_of"),
        col("kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val q116 = q("q116_cluster_maintenance")(spark, dir).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
      .toSeq
    assert(q116.exists(!_._5), "fixture must exercise at least one prune")
    assert(q116.exists(t => t._1 == 2L && !t._5 &&
        t._4.exists(d => sink.exists(s => s._1 == 1L && s._2 == d && s._5))),
      "a batch-2 prune must cite an ADMITTED batch-1 representative " +
        "(the append path, not just history)")
    assert(sink == q116)
  }

  test("q116 probe plan: the history leg reads the index bucketed, batch side shuffles") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables(spark, dir, "embeddings")
      .withColumn("bucket",
        conv(substring(md5(col("vec_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))
    val hist = emb.filter(col("bucket") < 200).select("vec_id", "embedding")
    val batch = emb.filter(col("bucket") >= 200 && col("bucket") < 230)
      .select("vec_id", "embedding")
    val cents = Clustering.lloydCentroids(
      hist.select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(1000000.0)).cast("long")).as("qv")),
      8, 2)
    val name = "graft_clidx_q116_plan"
    val root = java.nio.file.Files.createTempDirectory("graft-clidx-q116p")
    ClusterIndex.Layout.write(spark,
      ClusterIndex.assignBatch(hist, cents), name, root.resolve("idx"))
    val b = ClusterIndex.assignBatch(batch, cents).localCheckpoint(true)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // (a) broadcast disabled so the cid join must sort-merge: the
      // history side is the bucketed scan with NO exchange; every hash
      // shuffle carries batch-derived rows (cid repartition of the
      // batch leg, vec_id verdict join-backs), never the index
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = ClusterIndex.probeVerdicts(spark, name, b,
        excludeBatchFromHistory = false).queryExecution.executedPlan
      def scansIndex(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect {
          case f: FileSourceScanExec
              if f.tableIdentifier.exists(_.table == name) => f
        }.nonEmpty
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.exists { j =>
          val histSide = Seq(j.left, j.right).filter(scansIndex)
          histSide.nonEmpty && histSide.forall(
            _.collect { case e: ShuffleExchangeExec => e }.isEmpty) &&
            histSide.forall(_.collect {
              case f: FileSourceScanExec
                  if f.tableIdentifier.exists(_.table == name) => f
            }.forall(_.bucketedScan))
        }, s"history leg must be the bucketed scan, exchange-free:\n$plan")
      // no exchange may carry RAW index rows: an exchange whose subtree
      // scans the index is legal only past an aggregate boundary (the
      // verdict reduce shuffles batch-keyed (vec_id, min) rows, never
      // the index side of the cid join)
      def rawIndexShuffles(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect {
          case e: ShuffleExchangeExec if scansIndex(e.child) &&
              e.child.collect {
                case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
              }.isEmpty => e
        }
      assert(rawIndexShuffles(plan).isEmpty,
        s"an exchange carries raw index rows:\n$plan")
      // (b) production posture (broadcast on, replay exclusion on): the
      // vec_id anti join broadcasts the small batch-id set, so the
      // index STILL reaches the cid join unshuffled
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      val planEx = ClusterIndex.probeVerdicts(spark, name, b,
        excludeBatchFromHistory = true).queryExecution.executedPlan
      assert(rawIndexShuffles(planEx).isEmpty,
        s"exclusion must not force a shuffle of raw index rows:\n$planEx")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      b.unpersist()
    }
  }

  test("q117 plan: the candidate scan is bucket-pruned to the probed cells") {
    val name = ClusterIndex.ensure(spark, dir)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q("q117_ann_indexed")(spark, dir)
        .queryExecution.executedPlan
      val scans = plan.collect {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == name) => f
      }
      assert(scans.nonEmpty)
      // the candidate leg reads ONLY the probed cells' buckets — the
      // bounded cell-id collect pushes an IN filter on the bucket
      // column, so SelectedBucketsCount < NumBuckets (the q91 postings
      // bucket-pruning discipline at the vector layer). At most
      // Q*nprobe = 16 cells exist at all (K = 8), so the pruned scan
      // must select fewer buckets than the full layout.
      val pruned = scans.filter(f => f.optionalBucketSet.isDefined &&
        f.optionalBucketSet.get.cardinality() < IndexCommit.numBuckets)
      assert(pruned.nonEmpty,
        s"candidate scan must be bucket-pruned below $name's ${IndexCommit.numBuckets}:\n$plan")
      // and the probe side broadcasts onto it — the index never
      // shuffles to meet the probes
      val bhj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(bhj.exists(j => j.collect {
          case f: FileSourceScanExec
              if f.tableIdentifier.exists(_.table == name) &&
                f.optionalBucketSet.isDefined => f
        }.nonEmpty),
        s"probes must broadcast onto the pruned index scan:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("q132 plan: the IMAGE candidate scan is bucket-pruned to the probed cells") {
    // q117's serving discipline at the multimodal layer: the image
    // probe must read ONLY the probed cells' buckets of the image index
    val name = ClusterIndex.ensure(spark, dir, ClusterIndex.Image)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q("q132_image_ann_indexed")(spark, dir)
        .queryExecution.executedPlan
      val scans = plan.collect {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == name) => f
      }
      assert(scans.nonEmpty)
      val pruned = scans.filter(f => f.optionalBucketSet.isDefined &&
        f.optionalBucketSet.get.cardinality() < IndexCommit.numBuckets)
      assert(pruned.nonEmpty,
        s"image candidate scan must be bucket-pruned below ${IndexCommit.numBuckets}:\n$plan")
      val bhj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(bhj.exists(j => j.collect {
          case f: FileSourceScanExec
              if f.tableIdentifier.exists(_.table == name) &&
                f.optionalBucketSet.isDefined => f
        }.nonEmpty),
        s"image probes must broadcast onto the pruned index scan:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("a fresh session re-registers a valid on-disk index without rebuilding") {
    val name = ClusterIndex.ensure(spark, dir)
    val r1 = rows("q113_semdedup_indexed")
    val idxDir = java.nio.file.Paths.get(IndexCommit.indexRoot, name)
    val mtimeBefore = java.nio.file.Files.getLastModifiedTime(
      idxDir.resolve("_GRAFT_FP"))
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    assert(!spark.catalog.tableExists(name))
    assert(rows("q113_semdedup_indexed") == r1)
    assert(spark.catalog.tableExists(name))
    assert(java.nio.file.Files.getLastModifiedTime(
        idxDir.resolve("_GRAFT_FP")) == mtimeBefore,
      "re-registration must not rebuild the index files")
  }
}
