package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.ClusterIndex

/** Streaming SemDeDup serving ([[ClusterIndexSink]]): stream verdicts
  * must equal an independent driver-side replay of the online
  * keep-first semantics, the replay seam must be REAL (a naive probe
  * after a crashed append diverges; the exclusion heals it), and a
  * fully-committed batch must be skipped by the pointer gate.
  */
class ClusterIndexSinkSpec extends SparkSpec {
  import spark.implicits._

  // two learned cells on axes 1 and 3 (integer micro-units, frozen)
  private val centVals = Seq(
    0L -> Vector(1000000L, 0L, 0L, 0L),
    1L -> Vector(0L, 0L, 1000000L, 0L))
  private def centDf = centVals.toDF("cid", "cv")

  // fixtures: x-family lands in cell 0, y-family in cell 1;
  // x1~x2~x5 are a dup family, x4 and z are same-cell but distinct
  private val vecs: Map[Long, Vector[Double]] = Map(
    1L -> Vector(1.0, 0.2, 0.0, 0.0),
    2L -> Vector(0.0, 0.0, 1.0, 0.1),
    3L -> Vector(1.0, 0.25, 0.0, 0.0),
    4L -> Vector(0.4, -0.9, 0.0, 0.0),
    5L -> Vector(0.0, 0.0, 0.97, 0.05),
    6L -> Vector(1.01, 0.2, 0.0, 0.0),
    7L -> Vector(0.0, 1.0, 0.0, 0.0))

  private val batches: Seq[Seq[Long]] =
    Seq(Seq(1L, 2L, 3L), Seq(4L, 5L), Seq(6L, 7L))

  private def batchDf(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, vecs(i))).toDF("vec_id", "embedding")

  /** Independent sequential replay of the sink's contract: exact
    * integer assignment against frozen centroids, then keep-first —
    * pruned iff cos >= Tau with an ADMITTED same-cell history vector
    * or an earlier member of the own batch.
    */
  private def replay(): Map[Long, (Long, Option[Long], Boolean)] = {
    def assignOf(v: Vector[Double]): Long = {
      val qv = v.map(x => math.round(x * 1000000.0))
      centVals.map { case (cid, cv) =>
        (qv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min._2
    }
    def cos(a: Vector[Double], b: Vector[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    var admitted = Vector.empty[Long]
    val out = scala.collection.mutable.Map.empty[Long, (Long, Option[Long], Boolean)]
    batches.foreach { ids =>
      val verdicts = ids.map { i =>
        val cid = assignOf(vecs(i))
        val partners =
          (admitted.filter(h => assignOf(vecs(h)) == cid) ++
            ids.filter(j => j < i && assignOf(vecs(j)) == cid))
            .filter(p => cos(vecs(p), vecs(i)) >= ClusterIndexSink.Tau)
        i -> (cid, partners.sorted.headOption, partners.isEmpty)
      }
      verdicts.foreach { case (i, v) => out(i) = v }
      admitted = admitted ++ verdicts.filter(_._2._3).map(_._1)
    }
    out.toMap
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def freshIndex(tag: String): String = {
    val name = s"graft_clidx_$tag"
    ClusterIndex.Layout.initIndex(spark, name,
      java.nio.file.Paths.get(tmp(s"graft-clidx-$tag"), "idx"))
    name
  }

  private def verdictMap(df: DataFrame): Map[Long, (Long, Option[Long], Boolean)] =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getBoolean(3)))).toMap

  test("stream verdicts equal the independent sequential replay") {
    val name = freshIndex("e2e")
    val outDir = tmp("graft-clidx-out")
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = ClusterIndexSink.attach(
      stream.toDF().toDF("vec_id", "embedding"), name, centDf, outDir,
      tmp("graft-clidx-ckpt"))
    try {
      batches.foreach { ids =>
        stream.addData(ids.map(i => (i, vecs(i): Seq[Double])): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = verdictMap(ClusterIndexSink.verdicts(spark, outDir)
      .select("vec_id", "cid", "dup_of", "kept"))
    val want = replay()
    assert(got == want, s"stream $got\nreplay $want")
    // the fixture exercises every class: within-batch dup (3), history
    // dup (5, 6), same-cell distinct admit (4, 7), both cells
    assert(!want(3L)._3 && want(3L)._2 == Some(1L))
    assert(!want(5L)._3 && want(5L)._2 == Some(2L))
    assert(!want(6L)._3 && want(6L)._2 == Some(1L))
    assert(want(4L)._3 && want(7L)._3)
    // and the index holds exactly the admitted representatives
    assert(spark.table(name).select("vec_id").as[Long].collect().toSet ==
      want.filter(_._2._3).keySet)
  }

  test("replay seam: naive probe after crashed append diverges; exclusion heals") {
    val name = freshIndex("seam")
    val outDir = tmp("graft-clidx-seam")
    assert(ClusterIndexSink.applyBatch(batchDf(batches(0)), 0L, name,
      centDf, outDir))
    val b1 = ClusterIndex.assignBatch(batchDf(batches(1)), centDf)
      .localCheckpoint(true)
    def probe(exclude: Boolean) = verdictMap(
      ClusterIndex.probeVerdicts(spark, name, b1, exclude))
    val clean = probe(exclude = true)
    assert(clean == probe(exclude = false),
      "exclusion must be a no-op before any append of this batch")
    // crash window: admitted rows appended, log NOT committed
    ClusterIndex.Layout.append(name,
      b1.join(Seq(4L).toDF("vec_id"), "vec_id"))
    assert(probe(exclude = false) != clean,
      "seam must be real: vec 4 sees itself in history and self-prunes")
    assert(probe(exclude = true) == clean,
      "exclusion must make the probe idempotent")
    // the sink's replay reproduces the clean verdicts despite the
    // half-committed append, and the double-appended rows can never
    // change a later batch's verdicts (grouped-min history reduce)
    assert(ClusterIndexSink.applyBatch(batchDf(batches(1)), 1L, name,
      centDf, outDir))
    assert(verdictMap(ClusterIndexSink.verdicts(spark, outDir)
        .filter(col("batch_id") === 1L)
        .select("vec_id", "cid", "dup_of", "kept")) == clean)
    assert(ClusterIndexSink.applyBatch(batchDf(batches(2)), 2L, name,
      centDf, outDir))
    val b2v = verdictMap(ClusterIndexSink.verdicts(spark, outDir)
      .filter(col("batch_id") === 2L)
      .select("vec_id", "cid", "dup_of", "kept"))
    assert(!b2v(6L)._3 && b2v(6L)._2 == Some(1L) && b2v(7L)._3)
    // fully-committed replay is skipped by the pointer gate
    assert(!ClusterIndexSink.applyBatch(batchDf(batches(1)), 1L, name,
      centDf, outDir))
    b1.unpersist()
  }
}
