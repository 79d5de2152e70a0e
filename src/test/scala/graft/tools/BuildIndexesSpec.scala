package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.operators.IndexCommit

/** The generation-rollover build-ahead entry: one call builds every
  * persisted index, a repeat call is a freshness no-op, and a
  * post-restart call re-registers without rebuilding — so the first
  * QUERY after a corpus regeneration never pays an O(corpus) build
  * in-line.
  */
class BuildIndexesSpec extends SparkSpec {

  private def root(kind: String): String =
    if (kind == "postings") IndexCommit.indexRoot else IndexCommit.indexRoot

  test("build-ahead covers all eight indexes, idempotently, restart-safe") {
    val dir = sf0001
    val built = BuildIndexes.buildAll(spark, dir)
    assert(built.map(_._1).toSet ==
      Set("band", "bloom", "postings", "fp", "cluster", "cluster_img",
        "cluster_aud", "cluster_vid"))
    def mtimes = built.map { case (_, name) =>
      Files.getLastModifiedTime(
        Paths.get(IndexCommit.indexRoot, name).resolve("_GRAFT_FP"))
    }
    val m1 = mtimes
    // warm repeat: eight file listings, zero rebuilds
    assert(BuildIndexes.buildAll(spark, dir) == built)
    assert(mtimes == m1, "a warm build-ahead must not rewrite any index")
    // simulated JVM restart: catalog gone, files on disk — re-register
    built.foreach { case (_, n) => spark.sql(s"DROP TABLE IF EXISTS `$n`") }
    BuildIndexes.buildAll(spark, dir)
    built.foreach { case (_, n) =>
      assert(spark.catalog.tableExists(n), s"$n not re-registered")
    }
    assert(mtimes == m1, "re-registration must not rebuild index files")
  }
}
