package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[ClusterSink]] — online k-means centroid maintenance: stream ≡ an
  * independent driver-side sequential replay at EQUALITY after every
  * batch (the state is a pure integer function of the batch sequence),
  * plus the exactly-once legs: replay skip, crash-window recompute,
  * restart from checkpoint, vacuum.
  */
class ClusterSinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def qvecs(): Seq[(Long, Array[Long])] =
    graft.core.Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1)
          .map(x => BigDecimal(x.toDouble * 1000000.0)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
        (r.getLong(0), v)
      }.toSeq

  private def batchOf(all: Seq[(Long, Array[Long])], i: Int): DataFrame =
    all.filter(_._1 % 3 == i).toDF("vec_id", "qv")

  /** Independent driver-side replay of the online update rule. */
  private def replay(batches: Seq[Seq[(Long, Array[Long])]])
      : Map[Long, (Array[Long], Long, Array[Long])] = {
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def rdiv(s: Long, n: Long): Long =
      if (s >= 0) (2 * s + n) / (2 * n) else -((-2 * s + n) / (2 * n))
    var state = Map.empty[Long, (Array[Long], Long, Array[Long])]
    batches.foreach { b =>
      if (state.isEmpty)
        state = b.sortBy(_._1).take(ClusterSink.K)
          .map(v => v._1 -> ((v._2.map(_ * 0), 0L, v._2.clone))).toMap
      val frozen = state.map { case (cid, (_, _, cv)) => (cid, cv) }.toSeq
      val asg = b.map { case (id, v) =>
        val cid = frozen.map { case (c, cv) => (c, d2(v, cv)) }
          .minBy { case (c, d) => (d, c) }._1
        (cid, v)
      }
      state = state.map { case (cid, (s, n, cv)) =>
        val members = asg.filter(_._1 == cid).map(_._2)
        val ns = s.indices.map(i => s(i) + members.map(_(i)).sum).toArray
        val nn = n + members.size
        val ncv = if (nn == 0) cv else ns.map(rdiv(_, nn))
        cid -> ((ns, nn, ncv))
      }
    }
    state
  }

  private def stateRows(dir: String)
      : Map[Long, (Array[Long], Long, Array[Long])] =
    ClusterSink.state(spark, dir).get.collect().map { r =>
      r.getLong(0) -> ((r.getSeq[Long](1).toArray, r.getLong(2),
        r.getSeq[Long](3).toArray))
    }.toMap

  private def assertSame(dir: String,
      expect: Map[Long, (Array[Long], Long, Array[Long])]): Unit = {
    val got = stateRows(dir)
    assert(got.keySet == expect.keySet)
    got.foreach { case (cid, (s, n, cv)) =>
      val (es, en, ecv) = expect(cid)
      assert(n == en, s"cid $cid count")
      assert(s.sameElements(es), s"cid $cid sums")
      assert(cv.sameElements(ecv), s"cid $cid centroid")
    }
  }

  test("stream of batches equals the sequential replay after every batch") {
    val all = qvecs()
    val dir = tmp("graft-cluster")
    val b = (0 to 2).map(i => all.filter(_._1 % 3 == i))
    assert(ClusterSink.applyBatch(batchOf(all, 0), 0L, dir))
    assertSame(dir, replay(b.take(1)))
    assert(ClusterSink.applyBatch(batchOf(all, 1), 1L, dir))
    assertSame(dir, replay(b.take(2)))
    assert(ClusterSink.applyBatch(batchOf(all, 2), 2L, dir))
    assertSame(dir, replay(b))
    // non-vacuous: centroids moved off the seeds and every cluster is live
    val fin = stateRows(dir)
    assert(fin.values.forall(_._2 > 0))
    val seeds = b.head.sortBy(_._1).take(ClusterSink.K).map(_._2)
    assert(fin.toSeq.sortBy(_._1).map(_._2._3)
      .zip(seeds).exists { case (c, s) => !c.sameElements(s) })
  }

  test("replay skip and crash-window recompute") {
    val all = qvecs()
    val dir = tmp("graft-cluster-replay")
    assert(ClusterSink.applyBatch(batchOf(all, 0), 0L, dir))
    val before = stateRows(dir)
    assert(!ClusterSink.applyBatch(batchOf(all, 0), 0L, dir))
    assertSame(dir, before)
    // orphan v=1 with junk, pointer not moved: replayed batch 1 must
    // ignore it and recompute correct state into the slot
    Seq((99L, Array(1L, 2L), 5L, Array(1L, 2L)))
      .toDF("cid", "s", "n", "cv")
      .write.mode("overwrite").parquet(s"$dir/v=1")
    assert(VersionedPointer.latest(dir).contains(0L))
    assert(ClusterSink.applyBatch(batchOf(all, 1), 1L, dir))
    assertSame(dir,
      replay((0 to 1).map(i => all.filter(_._1 % 3 == i))))
  }

  test("engine restart from checkpoint continues the version chain") {
    val all = qvecs()
    val dir = tmp("graft-cluster-restart")
    val ckpt = tmp("graft-cluster-ckpt")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Long])]
    def start() = ClusterSink.attach(
      stream.toDF().toDF("vec_id", "qv"), dir, ckpt)
    val q1 = start()
    try {
      stream.addData(all.filter(_._1 % 3 == 0): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      stream.addData(all.filter(_._1 % 3 == 1): _*)
      q2.processAllAvailable()
      assertSame(dir,
        replay((0 to 1).map(i => all.filter(_._1 % 3 == i))))
    } finally q2.stop()
    VersionedPointer.vacuum(dir, 1)
    assertSame(dir,
      replay((0 to 1).map(i => all.filter(_._1 % 3 == i))))
  }
}
