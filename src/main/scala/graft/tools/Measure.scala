package graft.tools

import java.lang.management.ManagementFactory

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}
import scala.util.Try

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

import graft.SparkEntry
import graft.core.Pin

/** The one measurement core behind graft's harnesses (Bench, Verify,
  * ScaleBench, BuildIndexes, PlanDump): one session factory, one
  * `materialize`, one timed loop, and call-site attribution that works
  * with AQE on.
  *
  * Its own main is the diagnostic for any query subset:
  * `runMain graft.tools.Measure <sfDir> [runs]` (default 3 runs; limit
  * the queries with `SPARK_GRAFT_ONLY`). Per query it prints each timed
  * run's wall time, GC delta and persistent-RDD count, the median with
  * its spread, then the exec and CPU share of every call site over the
  * timed runs and the share no call site claimed. A run whose wall time
  * jumps while its GC delta and RDD count stay flat was slowed by the
  * host, not by the query: on a shared host whole runs slow 2-3x with
  * no code change, which is why every number here is a median.
  */
object Measure {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else every processor the
    * JVM sees. This is the only reader of that variable.
    */
  private lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session factory: `local[parallelism]` with as many shuffle
    * partitions, UTC session time and no UI. AQE stays at Spark's
    * default (on), which is how everything is measured.
    */
  def session(parallelism: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$parallelism]")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Query names in sorted order, limited to `SPARK_GRAFT_ONLY=qNN,qMM`
    * when set (local iteration; the driver leaves it unset).
    */
  def selected: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  }

  /** Materialize EVERY column of every row. A bare `count()` lets Catalyst
    * prune unreferenced projections and eliminate final sorts, so map-only
    * queries would time little more than the parquet scan; hashing a struct
    * of all columns into one aggregate forces the full projection through
    * codegen while still returning a single driver-side long (no collect).
    * bit_xor, NOT sum: summing uniform 64-bit hashes overflows Long, which
    * ANSI mode (Spark 4 default) turns into a query-aborting exception.
    */
  def materialize(df: DataFrame): Unit =
    df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*)))).head()

  /** One timed run: wall seconds (-1.0 when it threw), the GC time the
    * JVM spent during it, and the persistent RDDs left after it.
    */
  final case class Run(sec: Double, gcMs: Long, persistentRdds: Int)

  /** Timed runs as a median with its min/max spread. One failed run
    * makes all three -1.0, so a query that throws never reads as fast.
    */
  final case class Timing(runs: Seq[Run]) {
    val failed: Boolean = runs.isEmpty || runs.exists(_.sec < 0)
    private val secs = runs.map(_.sec).sorted
    def median: Double = if (failed) -1.0 else secs(secs.size / 2)
    def min: Double = if (failed) -1.0 else secs.head
    def max: Double = if (failed) -1.0 else secs.last
  }

  /** Runs `body` twice untimed, each run in its own [[Pin.scope]]. Two
    * warm-ups because the UDF-heavy tagger stages spend their first and
    * often second run inside C2 JIT compilation (5-9 s on run 2 against
    * 1.2-2 s steady). A failing warm-up is left for the timed runs to
    * report. `prepare` runs, untimed, before every run.
    */
  def warmUp(prepare: () => Unit = () => ())(body: => Unit): Unit =
    (1 to 2).foreach { _ =>
      prepare()
      try Pin.scope(body) catch { case _: Throwable => }
    }

  /** `runs` timed runs of `body`, each after `prepare` and a GC point,
    * each in its own [[Pin.scope]]: the persistent-RDD count after a run
    * is what the run left behind.
    */
  def timeRuns(spark: SparkSession, runs: Int = 3, prepare: () => Unit = () => ())(
      body: => Unit): Timing = Timing((1 to runs).map { _ =>
    prepare()
    System.gc()
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val ok = try { Pin.scope(body); true } catch { case _: Throwable => false }
    val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    Run(sec, gcMillis() - gc0, spark.sparkContext.getPersistentRDDs.size)
  })

  /** The loop every harness times with: [[warmUp]], then the median of
    * three [[timeRuns]]. Best-of-2 once hid a 41% no-code-change swing
    * on the headline query; the median is robust to one slow outlier
    * without rewarding one lucky run.
    */
  def timed(spark: SparkSession, prepare: () => Unit = () => ())(
      body: => Unit): Timing = {
    warmUp(prepare)(body)
    timeRuns(spark, prepare = prepare)(body)
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** `s` as a JSON string literal: backslash, quote and every control
    * character (< 0x20) escaped — a tab or CR left raw makes the whole
    * document unparseable.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The host a measurement ran on, as a JSON object: cores, graft's
    * local parallelism, max heap, JVM, Spark version and the git sha
    * (left out when no checkout is readable). Timings from different
    * hosts are not comparable.
    */
  def host(spark: SparkSession): String = {
    val sha = Try(Process(Seq("git", "rev-parse", "HEAD")).!!(ProcessLogger(_ => ())).trim)
      .toOption.filter(_.matches("[0-9a-f]{40}"))
    val jvm = s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"
    (Seq(
      s""""cores":${Runtime.getRuntime.availableProcessors}""",
      s""""spark_graft_cpus":${spark.sparkContext.defaultParallelism}""",
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576}""",
      s""""jvm":${jsonString(jvm)}""",
      s""""spark":${jsonString(spark.version)}""") ++
      sha.map(s => s""""git":"$s"""")).mkString("{", ",", "}")
  }

  /** Executor time on one call site: jobs, exec ms, CPU ms. */
  final case class Site(name: String, jobs: Long, execMs: Long, cpuMs: Long)

  /** Executor time per call site, with AQE on. A job's site is the
    * description of the SQL execution it carries (the
    * `spark.sql.execution.id` job property): the short call site of the
    * action that started it, or a pin's `"<name> localCheckpoint"`
    * ([[Pin]]). AQE submits query stages from its own
    * threads, whose stage names say only CompletableFuture, but every
    * such job still carries its execution id. A job outside any SQL
    * execution takes its result stage's name; tasks of a stage no job
    * announced land on [[CallSites.Unknown]].
    */
  final class CallSites extends SparkListener {
    private val descriptions = TrieMap.empty[Long, String]
    private val stageSite = TrieMap.empty[Int, String]
    // site -> (jobs, exec ms, cpu ns); guarded by this
    private val acc = mutable.Map.empty[String, Array[Long]]
    private def slot(site: String) = acc.getOrElseUpdate(site, new Array[Long](3))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => descriptions(s.executionId) = s.description
      case _ =>
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val site = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => descriptions.get(id.toLong))
        .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse(CallSites.Unknown)
      js.stageIds.foreach(stageSite(_) = site)
      synchronized(slot(site)(0) += 1)
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) synchronized {
        val a = slot(stageSite.getOrElse(te.stageId, CallSites.Unknown))
        a(1) += m.executorRunTime
        a(2) += m.executorCpuTime
      }
    }

    /** Forgets everything counted so far, once the bus is drained. */
    def reset(sc: SparkContext): Unit = {
      ListenerDrain(sc)
      synchronized(acc.clear())
    }

    /** Sites by descending exec time, once the bus is drained. */
    def sites(sc: SparkContext): Seq[Site] = {
      ListenerDrain(sc)
      synchronized(acc.toSeq.map { case (k, a) =>
        Site(k, a(0), a(1), a(2) / 1000000L) }).sortBy(-_.execMs)
    }
  }

  object CallSites {
    val Unknown = "unknown"

    /** Share of exec time on no named site: [[Unknown]], or a helper
      * thread's CompletableFuture. 0.0 when nothing ran.
      */
    def unattributed(sites: Seq[Site]): Double = {
      val total = sites.map(_.execMs).sum
      val lost = sites.filter(s => s.name == Unknown ||
        s.name.contains("CompletableFuture")).map(_.execMs).sum
      if (total == 0) 0.0 else lost.toDouble / total
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = if (args.length > 1) args(1).toInt else 3
    val spark = session()
    val sc = spark.sparkContext
    val listener = new CallSites
    sc.addSparkListener(listener)
    val all = selected.flatMap { name =>
      val fn = SparkEntry.queries(name)
      warmUp()(materialize(fn(spark, sfDir)))
      listener.reset(sc)
      val t = timeRuns(spark, runs)(materialize(fn(spark, sfDir)))
      t.runs.zipWithIndex.foreach { case (r, i) =>
        println(f"[measure] $name run=${i + 1}%-2d wall=${r.sec}%7.2f s  " +
          f"gc_delta=${r.gcMs}%6d ms  persistent_rdds=${r.persistentRdds}")
      }
      println(f"[measure] $name median=${t.median}%.2f s spread=[${t.min}%.2f, ${t.max}%.2f]")
      val sites = listener.sites(sc)
      val exec = sites.map(_.execMs).sum.max(1L).toDouble
      val cpu = sites.map(_.cpuMs).sum.max(1L).toDouble
      println(f"[measure]   ${"call site"}%-52s ${"jobs"}%5s ${"exec ms"}%9s ${"cpu ms"}%9s ${"exec %"}%7s ${"cpu %"}%7s")
      sites.foreach { s =>
        println(f"[measure]   ${s.name}%-52s ${s.jobs}%5d ${s.execMs}%9d ${s.cpuMs}%9d " +
          f"${100 * s.execMs / exec}%6.1f%% ${100 * s.cpuMs / cpu}%6.1f%%")
      }
      println(f"[measure] $name unattributed=${100 * CallSites.unattributed(sites)}%.1f%% of ${exec / 1e3}%.1f exec-s")
      sites
    }
    println(f"[measure] all queries: unattributed=${100 * CallSites.unattributed(all)}%.1f%% of ${all.map(_.execMs).sum / 1e3}%.1f exec-s")
    spark.stop()
  }
}
