package graft.tools

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, sha2, struct, sum, xxhash64}

import graft.{Bench, SparkSpec}

/** The measurement core: a failure never reads as a fast time, the
  * bench line is real JSON stamped with its host, `materialize` survives
  * ANSI overflow, and call-site attribution holds with AQE on. Also the
  * guard that keeps one session factory and one `materialize` in
  * `src/main`.
  */
class MeasureSpec extends SparkSpec {

  private def boom(): Unit = throw new IllegalStateException("boom")

  test("a throwing query reports -1.0 as its median and as the bench value") {
    val ok = Measure.timed(spark)(Measure.materialize(spark.range(10).toDF()))
    val bad = Measure.timed(spark)(boom())
    assert(!ok.failed && ok.median >= 0 && ok.min <= ok.median && ok.median <= ok.max)
    assert(bad.failed && bad.runs.size == 3)
    assert((bad.median, bad.min, bad.max) == (-1.0, -1.0, -1.0))
    val line = new ObjectMapper().readTree(
      Bench.line(Seq("q_ok" -> ok, "q_bad" -> bad), "{}", Seq.empty))
    assert(line.get("value").asDouble == -1.0, "a failure must not shrink the total")
    assert(line.get("queries").get("q_bad").asDouble == -1.0)
    assert(line.get("queries").get("q_ok").asDouble == ok.median)
    val fine = new ObjectMapper().readTree(Bench.line(Seq("q_ok" -> ok), "{}", Seq.empty))
    assert(fine.get("value").asDouble == ok.median)
  }

  test("a failed timing keeps its first throwable and prints it once") {
    val err = new java.io.ByteArrayOutputStream()
    val bad = Console.withErr(new java.io.PrintStream(err, true)) {
      Measure.timed(spark)(boom())
    }
    assert(bad.failed && bad.median == -1.0)
    assert(bad.error.exists(e =>
      e.isInstanceOf[IllegalStateException] && e.getMessage.contains("boom")), bad.error)
    val printed = err.toString
    assert(printed.linesIterator.count(_.startsWith(
      "[measure] query failed: java.lang.IllegalStateException: boom")) == 1, printed)
    assert(printed.contains("at graft.tools.MeasureSpec"), printed)
    val direct = Measure.timeRuns(spark, runs = 2)(boom())
    assert(direct.failed && direct.error.exists(_.getMessage.contains("boom")))
    assert(Measure.timed(spark)(Measure.materialize(spark.range(3).toDF())).error.isEmpty)
  }

  test("the bench line parses with the driver keys and the host stamp") {
    val t = Measure.Timing(Seq(Measure.Run(1.5, 3L, 0), Measure.Run(1.0, 2L, 0),
      Measure.Run(2.0, 1L, 0)))
    val txt = Bench.line(Seq("q\"odd\tname" -> t), Measure.host(spark),
      Seq("sf" -> "/data/sf\\0.1"))
    val j = new ObjectMapper().readTree(txt)
    for (k <- Seq("metric", "value", "queries", "spread", "host"))
      assert(j.has(k), s"missing $k in $txt")
    assert(j.get("value").asDouble == 1.5)
    val spread = j.get("spread").get("q\"odd\tname")
    assert(spread.get(0).asDouble == 1.0 && spread.get(1).asDouble == 2.0)
    assert(j.get("sf").asText == "/data/sf\\0.1")
    val host = j.get("host")
    assert(host.get("cores").asInt == Runtime.getRuntime.availableProcessors)
    assert(host.get("spark_graft_cpus").asInt == 4)
    assert(host.get("max_heap_mb").asLong > 0)
    assert(host.get("spark").asText == spark.version)
    assert(host.get("jvm").asText.nonEmpty)
    Option(host.get("git")).foreach(g => assert(g.asText.matches("[0-9a-f]{40}")))
  }

  test("materialize does not throw where a hash sum overflows Long under ANSI") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val df = spark.range(0, 20000).select(col("id"), (col("id") * 7).as("y"))
      val overflow = intercept[Exception] {
        df.agg(sum(xxhash64(struct(df.columns.map(col): _*)))).head()
      }
      assert(overflow.getMessage.toLowerCase.contains("overflow"), overflow)
      Measure.materialize(df)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("with AQE on, a tagged eager localCheckpoint's work lands on named call sites") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val sc = spark.sparkContext
    val sites = new Measure.CallSites
    sc.addSparkListener(sites)
    try {
      sites.reset(sc)
      sc.setCallSite("spec:pin localCheckpoint")
      val pinned =
        try spark.range(0, 400000, 1, 8)
          .select((col("id") % 97).as("k"), sha2(col("id").cast("string"), 256).as("h"))
          .localCheckpoint(true)
        finally sc.clearCallSite()
      Measure.materialize(pinned.groupBy("k").count())
      val got = sites.sites(sc)
      val exec = got.map(_.execMs).sum
      assert(exec > 0, got)
      assert(got.exists(s => s.name == "spec:pin localCheckpoint" && s.execMs > 0), got)
      assert(Measure.CallSites.unattributed(got) <= 0.05, got)
    } finally sc.removeSparkListener(sites)
  }

  private lazy val mainFiles = {
    val files = Files.walk(new File("src/main/scala").toPath).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    files
  }

  /** `file:line` of every src/main line whose code (comments left out)
    * contains `needle`.
    */
  private def hits(needle: String) = mainFiles.flatMap { p =>
    Files.readAllLines(p).asScala.zipWithIndex.collect {
      case (l, i) if codeOf(l).contains(needle) => s"$p:${i + 1}"
    }
  }

  private def codeOf(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
    else line.split(" // ", 2)(0)
  }

  test("src/main has one session builder and one materialize") {
    val builders = hits("SparkSession.builder")
    assert(builders.size == 1 && builders.head.contains("tools/Measure.scala"), builders)
    assert(hits("def materialize").size == 1, hits("def materialize"))
  }

  test("src/main pins and releases only through graft.core.Pin") {
    val calls = Seq("localCheckpoint(", ".checkpoint(", "unpersist(")
      .flatMap(hits).filterNot(_.contains("graft/core/Pin.scala:"))
    // the registry's plan-keyed persist of its phase frames is a cache
    // entry, not a pin
    val (registry, rest) = calls.partition(_.contains("pipelines/Pipeline.scala:"))
    assert(rest.isEmpty, rest)
    assert(registry.size == 1, registry)
  }

  test("src/main writes and declares bucketed tables only in the index lifecycle") {
    val needles = Seq("saveAsTable(", ".bucketBy(", "CLUSTERED BY")
    val rest = needles.flatMap(hits)
      .filterNot(_.contains("graft/operators/IndexLayout.scala:"))
    assert(rest.isEmpty, rest)
    // the scan sees the lifecycle's own uses, so the guard is not vacuous
    assert(needles.forall(hits(_).nonEmpty))
  }

  test("src/main emits within-frame pairs only through Dedup.pairsWithin") {
    val needles = Seq("< col(\"d2\")", "< col(\"doc_id\")", "< col(\"vec_id\")",
      "< col(\"source_b\")", ".as(\"x\").join(", "col(\"x.", "col(\"y.")
    val found = needles.flatMap(hits)
    val (primitive, rest) = found.partition(_.contains("graft/operators/Dedup.scala:"))
    assert(rest.isEmpty, rest)
    // the scan sees the primitive's own predicate, so the guard is not vacuous
    assert(primitive.size == 1, found)
  }

  test("src/main starts streams, gates and commits sink batches only in the sink lifecycle") {
    val needles = Seq(".writeStream", "alreadyServed(", "VersionedPointer.commit(")
    val rest = needles.flatMap(hits)
      .filterNot(_.contains("graft/streaming/VersionedPointer.scala:"))
    assert(rest.isEmpty, rest)
    assert(hits(".writeStream").nonEmpty && hits("alreadyServed(").nonEmpty)
    // empty frames of a declared schema: the sink log's and the index
    // layout's, nowhere else
    val empties = hits("emptyRDD").filterNot(h =>
      h.contains("graft/streaming/VersionedPointer.scala:") ||
        h.contains("graft/operators/IndexLayout.scala:"))
    assert(empties.isEmpty, empties)
  }
}
