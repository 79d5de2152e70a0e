package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Lake, Tables, TornRenameFileSystem}

/** The maintenance loop's publish guarantees proven DIRECTLY on the
  * hostile copy+delete-rename store, with REAL Spark bucketed-table
  * writes — not by composition from LakeSpec's toy trees: a
  * build→probe→append→probe cycle (the q112/q116/q118 shape) whose
  * index root lives on `torn://`, then a rebuild torn mid-sweep, which
  * must read as stale and repair. Two protocol properties only this
  * shape can pin:
  *  - an APPEND does not invalidate the manifest-bound marker (the
  *    manifest claims "this build's files are all here", not "nothing
  *    was added since" — a streaming sink appends between compactions
  *    and the index must stay valid);
  *  - the append-generation rebuild inherits the marker-after-publish
  *    contract directly (a crash mid-sweep leaves old marker + partial
  *    old data, which must read as stale, never serve torn history).
  */
class TornMaintenanceSpec extends SparkSpec {

  test("fp-index maintenance loop on the torn store: build, probe, append, probe; torn rebuild reads stale and repairs") {
    val root = "torn:" + Files.createTempDirectory("graft-torn-maint").toString
    val name = "graft_torn_maint_" + ProcessHandle.current().pid()
    val path = Paths.get(root.stripPrefix("torn:"), name)
    val tornPath = Paths.get("torn:" + path.toString)
    val fp1 = "maint-gen-1:bk4"
    val fp2 = "maint-gen-2:bk4"
    val hist = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 100)
      .localCheckpoint(true)
    // arrivals whose text duplicates history exactly — every probe
    // must report full-coverage duplicated spans
    def arrivals(offset: Long) =
      hist.withColumn("doc_id", col("doc_id") + lit(offset))
    try {
      // build gen-1 through the real publish protocol, on torn://
      IndexCommit.commitBuild(spark, name, tornPath, Some(fp1)) { (tn, tp) =>
        FpIndex.buildIndex(spark, hist, tn, tp)
      }
      FpIndex.register(spark, name, tornPath)
      assert(IndexCommit.fpValid(tornPath, fp1),
        "a clean publish on the torn store must read as valid")

      val batch1 = arrivals(1000000L).localCheckpoint(true)
      val p1 = FpIndex.probeSpans(spark, name, batch1)._1.collect()
      assert(p1.nonEmpty, "duplicated arrivals must hit history spans")

      // the maintenance append — and the manifest must TOLERATE it:
      // appended files are beyond the marker's manifest by design
      FpIndex.append(spark, name, batch1)
      assert(IndexCommit.fpValid(tornPath, fp1),
        "an append must not invalidate the manifest-bound marker")

      // the appended generation answers probes: a second batch dups
      // BOTH the original history and the appended batch
      val p2 = FpIndex.probeSpans(spark, name, arrivals(2000000L))._1.collect()
      assert(p2.nonEmpty)

      // gen-2 rebuild dies mid-deleteTree, after every DATA file is
      // swept (control files last — the adversarial order): old marker
      // + nonce survive with no data behind them
      val nData = Lake.fileEntriesRel(tornPath.toString)
        .count { case (p, _) => !p.split('/').last.startsWith("_") }
      assert(nData > 2)
      TornRenameFileSystem.armDelete(name, afterNFiles = nData)
      intercept[java.io.IOException](
        IndexCommit.commitBuild(spark, name, tornPath, Some(fp2)) { (tn, tp) =>
          FpIndex.buildIndex(spark, hist, tn, tp)
        })
      assert(TornRenameFileSystem.deleteCrashes > 0,
        "the torn delete sweep must fire")
      TornRenameFileSystem.disarm()
      assert(Files.exists(path.resolve("_GRAFT_FP")),
        "the old marker must survive the torn sweep")
      assert(!IndexCommit.fpValid(tornPath, fp1) &&
          !IndexCommit.fpValid(tornPath, fp2),
        "the swept remnant must read as stale for every generation")

      // the repair: rebuild gen-2 through the same protocol and the
      // loop continues — probes answer against the fresh history
      IndexCommit.commitBuild(spark, name, tornPath, Some(fp2)) { (tn, tp) =>
        FpIndex.buildIndex(spark, hist, tn, tp)
      }
      FpIndex.register(spark, name, tornPath)
      assert(IndexCommit.fpValid(tornPath, fp2))
      val p3 = FpIndex.probeSpans(spark, name, arrivals(3000000L))._1.collect()
      assert(p3.nonEmpty, "the rebuilt index must answer probes")
      hist.unpersist(); batch1.unpersist()
    } finally {
      TornRenameFileSystem.disarm()
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      Lake.deleteTree(root)
    }
  }
}
