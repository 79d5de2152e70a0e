package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The hot-term bound for the skew-exposed families the `_skew` curves
  * time on the zipf corpus (one term in EVERY doc — a corpus-hot
  * postings list / a corpus-hot bigram):
  *
  *  - the BM25 probe ([[PostingsIndex.probeScoresFor]], q91's path)
  *    stays BUCKET-PRUNED under a corpus-hot query term — the IN
  *    literal prunes to the query terms' buckets, so the probe reads
  *    postings-of-query-terms, never the vocabulary; its work on a hot
  *    term is Ω(df(term)) by construction (every posting contributes
  *    to some doc's score), which is why the `_skew` curve's
  *    adjudicated band is at-or-below LINEAR, not the sublinear band
  *    uniform corpora earn;
  *  - the Misra-Gries candidate pass ([[SketchExact.bigramCandidates]],
  *    q96's sketch) emits a BOUNDED candidate set whatever the skew —
  *    at most MgK keys per partition survive the map side — and the
  *    corpus-hot bigram is always IN it (the sketch's one-sided error:
  *    a true heavy hitter is never dropped), so the exact recount join
  *    is candidate-bounded even when one key is the whole corpus.
  */
class HotTermSpec extends SparkSpec {

  import spark.implicits._

  // 400 docs, disjoint vocab per doc, PLUS the corpus-wide hot term
  // 'hash' twice in every doc — the zpf corpus shape in miniature
  private def hotDocs() =
    spark.range(400).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        concat(lit("alpha"), col("id")), concat(lit("beta"), col("id")),
        concat(lit("gamma"), col("id")), lit("hash"), lit("hash"))
        .as("text"))

  test("hot-term probe: bucket-pruned scan, postings-of-terms only") {
    val name = "graft_postings_hotterm_" + ProcessHandle.current().pid()
    val path = Paths.get(IndexCommit.indexRoot, name)
    PostingsIndex.buildIndexDocs(spark, hotDocs(), name, path)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qts = Seq(1L -> "hash", 2L -> "alpha7")
      val probe = PostingsIndex.probeScoresFor(spark, name, path, qts)
      val rows = probe.collect()
      // correctness under skew: the hot term scores EVERY doc, the
      // rare term exactly one
      assert(rows.count(_.getLong(0) == 1L) == 400,
        "the corpus-hot term must score every doc")
      assert(rows.count(_.getLong(0) == 2L) == 1,
        "the rare term must score exactly its one doc")
      // plan bound: the postings scan is bucket-pruned to the query
      // terms' buckets — a hot TERM must not widen the scan to the
      // vocabulary
      val scans = probe.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table == name) => f
      }
      assert(scans.nonEmpty)
      val pruned = scans.filter(f => f.optionalBucketSet.isDefined &&
        f.optionalBucketSet.get.cardinality() < IndexCommit.numBuckets)
      assert(pruned.nonEmpty,
        s"probe must bucket-prune under a hot term:\n${probe.queryExecution}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      IndexCommit.deleteTree(path)
    }
  }

  test("hot-bigram MG: candidate set bounded, heavy hitter never dropped") {
    val bg = SketchExact.bigramsOf(hotDocs())
    // adversarial partitionings: however the rows land, the per-
    // partition survivor bound and the superset property must hold
    Seq(bg, bg.repartition(17), bg.repartition(2, col("bg"))).foreach { b =>
      val cands = SketchExact.bigramCandidates(spark, b).as[String].collect()
      assert(cands.contains("hash hash"),
        "a corpus-wide hot bigram must always survive the sketch")
      // bound: ≤ MgK per partition; with ≤ 17 partitions in play the
      // union is ≤ 17·MgK — but on THIS corpus the candidate set must
      // be far smaller than the bigram vocabulary (4 bigrams per doc,
      // only hot ones repeat), proving the shuffle is sketch-sized
      assert(cands.length <= 17 * 667,
        s"candidate union must respect the per-partition MG bound")
    }
  }
}
