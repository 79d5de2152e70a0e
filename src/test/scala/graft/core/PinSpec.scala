package graft.core

import java.lang.ref.WeakReference
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{ClusterIndex, Clustering, IndexCommit, FpIndex, Multimodal}
import graft.streaming.{CurationSink, MultimodalCurationSink}

/** [[Pin]]: a scope releases exactly the pins made inside it on its own
  * thread, also on an exception; a pin made with no scope open is left
  * to the ContextCleaner; and the curation sinks' per-batch scopes leave
  * no persistent RDD behind.
  */
class PinSpec extends SparkSpec {

  private def sc = spark.sparkContext

  private def ids: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  private def rddOf(df: DataFrame): RDD[_] =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  private def pin(n: Int, name: String): DataFrame =
    Pin(spark.range(n).withColumn("sq", col("id") * col("id")), name)

  private def persisted(df: DataFrame): Boolean =
    sc.getPersistentRDDs.contains(rddOf(df).id)

  test("a pin names its job and starts its long call site at the caller") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((js.properties.getProperty("callSite.short"),
          js.properties.getProperty("callSite.long")))
    }
    sc.addSparkListener(l)
    try Pin.scope(pin(10, "spec:named").count())
    finally {
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(l)
    }
    val (short, long) = seen.asScala.find(_._1 == "spec:named localCheckpoint")
      .getOrElse(fail(s"no job named by the pin: ${seen.asScala.map(_._1)}"))
    assert(long.linesIterator.next().contains("graft.core.PinSpec.pin("), long)
    assert(!long.contains("graft.core.Pin$.apply"), long)
    assert(sc.getLocalProperty("callSite.short") == null)
  }

  test("nested scopes each release only their own pins") {
    Pin.scope {
      val outer = pin(10, "spec:outer")
      Pin.scope {
        val inner = pin(20, "spec:inner")
        assert(persisted(outer) && persisted(inner))
        Pin.scope(assert(persisted(inner)))
        assert(persisted(inner), "an empty inner scope released its parent's pin")
      }
      assert(persisted(outer), "the inner scope released the outer pin")
      val again = pin(30, "spec:outer2")
      val kept = Pin.scope(pin(40, "spec:returned"))
      assert(persisted(kept), "a returned pin outlived its scope")
      assert(kept.count() == 40)
      assert(Seq(outer, again).forall(persisted))
    }
    val before = ids
    val (outer, kept) = Pin.scope {
      val o = pin(10, "spec:outer")
      (o, Pin.scope(pin(40, "spec:returned")))
    }
    assert(!persisted(outer) && !persisted(kept),
      "the enclosing scope kept its own pin or the one handed up")
    assert(ids -- before == Set.empty)
  }

  test("an exception inside a scope still releases its pins") {
    val before = ids
    var made: DataFrame = null
    val e = intercept[IllegalStateException] {
      Pin.scope {
        made = pin(10, "spec:thrown")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!persisted(made))
    assert(ids -- before == Set.empty)
  }

  test("a pin made with no scope open holds no reference from Pin") {
    def weakPin(i: Int): WeakReference[RDD[_]] = {
      val df = pin(50, s"spec:unscoped$i")
      assert(df.count() == 50)
      new WeakReference[RDD[_]](rddOf(df))
    }
    val refs = (1 to 5).map(weakPin)
    spark.range(3).count()
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (refs.exists(_.get != null) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(refs.forall(_.get == null), refs.map(r => Option(r.get).map(_.id)))
  }

  test("a pin made on another thread is not released by this thread's scope") {
    var other: DataFrame = null
    Pin.scope {
      val t = new Thread(() => other = pin(10, "spec:other-thread"))
      t.start()
      t.join()
      pin(10, "spec:this-thread")
    }
    assert(persisted(other))
    rddOf(other).unpersist()
  }

  private val dir = sf0001
  private val pid = ProcessHandle.current().pid()

  private def slice(lo: Int, hi: Int): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))
      .filter(col("bucket") >= lo && col("bucket") < hi)
      .select("doc_id", "text")

  private val batches = Seq((200, 220), (220, 240), (240, 256))

  private def fpIndex(tag: String): String = {
    val name = s"graft_fp_pinspec_${tag}_$pid"
    FpIndex.buildIndex(spark, slice(0, 200), name,
      Paths.get(IndexCommit.indexRoot, name))
    name
  }

  private def drop(names: String*): Unit = names.foreach { n =>
    spark.sql(s"DROP TABLE IF EXISTS `$n`")
    Lake.deleteTree(s"${IndexCommit.indexRoot}/$n")
    Lake.deleteTree(s"${IndexCommit.indexRoot}/$n")
  }

  test("CurationSink.applyBatch leaves no persistent RDD behind") {
    val fp = fpIndex("text")
    val out = Files.createTempDirectory("graft-pinspec-text").toString
    try {
      val art = CurationSink.artifactsOf(slice(0, 200))
      batches.zipWithIndex.foreach { case ((lo, hi), b) =>
        val before = ids
        assert(CurationSink.applyBatch(slice(lo, hi), b.toLong, fp, dir, art, out))
        assert(ids -- before == Set.empty, s"batch $b left persistent RDDs")
      }
      assert(CurationSink.verdicts(spark, out).count() > 0)
    } finally drop(fp)
  }

  test("MultimodalCurationSink.applyBatch leaves no persistent RDD behind") {
    val fp = fpIndex("mm")
    def modal(kind: String, featsOf: DataFrame => DataFrame, featCol: String,
        assignB: (DataFrame, DataFrame) => DataFrame) = {
      val name = s"graft_cluster_${kind}_pinspec_$pid"
      val hist = featsOf(slice(0, 200))
      val cents = Clustering.lloydCentroids(hist.select(col("vec_id"),
        transform(col(featCol), x => x.cast("long")).as("qv")), 8, 1)
      ClusterIndex.Layout.write(spark, assignB(hist, cents), name,
        Paths.get(IndexCommit.indexRoot, name))
      MultimodalCurationSink.ModalIndex(name, cents)
    }
    val img = modal("img", Clustering.imageFeaturesOf(spark, _), "hist",
      ClusterIndex.assignImageBatch)
    val aud = modal("aud", Clustering.audioFeaturesOf(spark, _), "env",
      ClusterIndex.assignAudioBatch)
    val vid = modal("vid", Clustering.videoFeaturesOf(spark, _), "vfeat",
      ClusterIndex.assignVideoBatch)
    val out = Files.createTempDirectory("graft-pinspec-mm").toString
    try {
      val art = CurationSink.artifactsOf(slice(0, 200))
      batches.zipWithIndex.foreach { case ((lo, hi), b) =>
        val wide = Multimodal.mintWide(spark, slice(lo, hi), corrupt = true).toDF()
        val before = ids
        assert(MultimodalCurationSink.applyBatch(wide, b.toLong, fp, dir, art,
          img, aud, vid, out))
        assert(ids -- before == Set.empty, s"batch $b left persistent RDDs")
      }
      assert(MultimodalCurationSink.verdicts(spark, out).count() > 0)
    } finally drop(fp, img.name, aud.name, vid.name)
  }
}
