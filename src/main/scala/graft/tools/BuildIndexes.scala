package graft.tools

import org.apache.spark.sql.SparkSession

import graft.operators.{BandIndex, BloomIndex, ClusterIndex, FpIndex, PostingsIndex}

/** Generation-rollover BUILD-AHEAD for every persisted index — the
  * operational decoupling of index builds from first probes.
  *
  * Each `ensure()` is fingerprint-gated build-if-stale, which makes
  * query paths self-healing but means the FIRST prober after a corpus
  * regeneration pays the whole O(corpus) build in-line (at 100 TB: the
  * full winnow, shingle, postings, and Lloyd passes — hours of work
  * landing on whatever query happens to run first). A production
  * deployment instead runs THIS entry as the last step of the pipeline
  * that publishes a new corpus generation: all eight builds execute
  * here, atomically published ([[graft.operators.IndexCommit]]), and
  * every subsequent probe from any process is a catalog lookup plus an
  * O(#files) fingerprint check. Idempotent by construction — on a
  * fresh corpus it builds, on a warm one it is a no-op costing eight
  * file listings — so it is safe to schedule unconditionally.
  *
  * Usage: `runMain graft.tools.BuildIndexes <corpusDir>`.
  */
object BuildIndexes {

  private def has(dir: String, f: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f))

  /** Build (or freshness-confirm) every persisted index whose source
    * table exists under `dir`; returns (kind, table name) pairs. Also
    * the natural janitor slot: abandoned pid-scoped scratch trees
    * (dead maintenance loops, crashed commitBuild temps) are reclaimed
    * first under the one index root every family shares, so the
    * estate's footprint stays bounded by the LIVE index set across
    * generations.
    */
  def buildAll(spark: SparkSession, dir: String): Seq[(String, String)] = {
    graft.operators.IndexCommit.purgeStaleScratch()
    (if (has(dir, "documents.parquet")) Seq(
      "band" -> BandIndex.ensure(spark, dir),
      "bloom" -> BloomIndex.ensure(spark, dir),
      "postings" -> PostingsIndex.ensure(spark, dir)._1,
      "fp" -> FpIndex.ensure(spark, dir),
      "cluster_img" -> ClusterIndex.ensure(spark, dir, ClusterIndex.Image),
      "cluster_aud" -> ClusterIndex.ensure(spark, dir, ClusterIndex.Audio),
      "cluster_vid" -> ClusterIndex.ensure(spark, dir, ClusterIndex.Video))
    else Seq.empty) ++
    (if (has(dir, "embeddings.parquet")) Seq(
      "cluster" -> ClusterIndex.ensure(spark, dir))
    else Seq.empty)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Measure.session()
    val t0 = System.nanoTime()
    buildAll(spark, dir).foreach { case (kind, name) =>
      println(f"[build-ahead] $kind%-9s -> $name")
    }
    println(f"[build-ahead] done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
