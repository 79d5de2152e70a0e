package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark invocation inside one JVM: set up the workload, make
  * one untimed warm-up run, run it in a closed loop for the measuring
  * window, check its outputs, and — with `--trace 1` — make one more
  * traced pass (set-up plus run) with module attribution, then run the
  * workload's costlier reference checks. Every run's output is checked
  * against the warm-up run's.
  * Raw samples go to the `--out` JSON file; `perfbench/run.py` turns them
  * into metrics.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cpus N
  *        --data DIR --work DIR --root DIR --out FILE
  */
object Main {
  /** Timed runs per invocation at least, whatever the window. They
    * follow one untimed warm-up run, so they measure a warm JIT and warm
    * codegen caches rather than the first run's compile storm. One: on a
    * 4-core host an invocation (JVM, set-up, warm-up, run, checks)
    * already costs 55–80 s, and the benchmark's full sweep of 48
    * invocations must end within an hour.
    */
  val MinRuns = 1

  /** Share of the host's CPU time the hypervisor may steal during a timed
    * run. On a 4-vCPU guest 5% steal already made a run ~18% slower; a
    * run past this is repeated once and the attempt with less steal is
    * kept, so a burst on a shared host does not pass for the program's
    * speed.
    */
  val MaxSteal = 0.05

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val work = Paths.get(a("work"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val out = new Json
    try measure(spark, a, work, sessionS, out)
    catch { case e: Throwable =>
      out.put("fatal", s"${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(a("out")), out.render)
      spark.stop()
    }
  }

  /** A check that throws is a failed check, never an aborted run. */
  private def guarded(checks: => Seq[Check]): Seq[Check] =
    try checks
    catch { case e: Throwable =>
      Seq(Check("checks", ok = false, s"${e.getClass.getName}: ${e.getMessage}"))
    }

  private def persistent(spark: SparkSession) =
    spark.sparkContext.getPersistentRDDs.size

  /** One attempt at a run: run it and check its output against the first
    * run's hash. A run that throws or fails a check is a failed run and
    * yields no time.
    */
  private final class Runner(spark: SparkSession, w: Workload) {
    private var firstHash: Option[Long] = None

    def apply(k: Int, timed: Boolean): Map[String, Any] = {
      val before = persistent(spark)
      val ticks0 = cpuTicks()
      val t0 = System.nanoTime()
      val rec = try {
        val r = w.run(k)
        val wall = r.timedS.getOrElse((System.nanoTime() - t0) / 1e9)
        if (firstHash.isEmpty) firstHash = Some(r.hash)
        val problems = r.problems ++
          (if (firstHash.contains(r.hash)) Nil
           else Seq("output differs from the first run's"))
        Map[String, Any]("ok" -> problems.isEmpty, "wall_s" -> wall,
          "hash" -> r.hash.toString, "rows" -> r.rows, "ratios" -> r.ratios) ++
          (if (problems.isEmpty) Nil else Seq("error" -> problems.mkString("; ")))
      } catch { case e: Throwable =>
        Map[String, Any]("ok" -> false,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
      val stolen = for ((s0, n0) <- ticks0; (s1, n1) <- cpuTicks()
        if n1 > n0) yield (s1 - s0).toDouble / (n1 - n0)
      rec ++ Seq("timed" -> timed, "steal_share" -> stolen,
        "persistent_rdds_leaked" -> (persistent(spark) - before))
    }
  }

  private def steal(rec: Map[String, Any]): Double =
    rec.get("steal_share").collect { case Some(d: Double) => d }.getOrElse(0.0)

  /** (steal, total) CPU ticks of the host so far, from /proc/stat: a run
    * timed while the hypervisor stole CPU shows it in its record.
    */
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).take(8).map(_.toLong)
      Some((f(7), f.sum))
    } catch { case _: Exception => None }

  private def measure(spark: SparkSession, a: Map[String, String], work: Path,
      sessionS: Double, out: Json): Unit = {
    val sc = spark.sparkContext
    val w = Workload(a("workload"), spark, Paths.get(a("data")), work,
      Paths.get(a("root")), a("seed").toLong)
    out.put("stamp", Stamp(spark))
    out.put("session_s", sessionS)
    sc.setLocalProperty(Trace.ModuleKey, w.module)

    val t0 = System.nanoTime()
    w.setup(1)
    out.put("setup_s", (System.nanoTime() - t0) / 1e9)

    val attempt = new Runner(spark, w)
    val runs = Seq.newBuilder[Map[String, Any]]
    runs += attempt(0, timed = false)
    // closed loop: each run starts after the previous one has finished
    val window = a("seconds").toDouble
    var spent = 0.0
    var k = 0
    while (k < MinRuns || spent < window) {
      k += 1
      val t0 = System.nanoTime()
      var rec = attempt(k, timed = true)
      // a traced invocation reports no wall_s: no repeat, so its set-up,
      // runs and reference check stay inside the time limit
      if (steal(rec) > MaxSteal && a("trace") == "0") {
        val again = attempt(k, timed = true)
        val (keep, drop) =
          if (steal(again) < steal(rec)) (again, rec) else (rec, again)
        runs += drop + ("timed" -> false) + ("discarded" -> "host steal")
        rec = keep
      }
      runs += rec
      spent += (System.nanoTime() - t0) / 1e9
    }

    out.put("retained_heap_mb", retainedHeapMb())

    val oracleDir = work.resolve("oracle")
    Files.createDirectories(oracleDir)
    out.put("oracle_dir", oracleDir.toString)
    val tc = System.nanoTime()
    val checks = guarded(w.check(oracleDir))
    out.put("check_s", (System.nanoTime() - tc) / 1e9)
    out.put("facts", w.facts)

    val full = if (a("trace") == "1") {
      val (summary, rec) = traced(spark, w, attempt, k + 1, work)
      runs += rec
      out.put("trace", summary)
      guarded(w.fullCheck(oracleDir))
    } else Nil
    out.put("runs", runs.result())
    out.put("checks", (checks ++ full).map(c =>
      Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))
  }

  /** Driver heap that survives full collections after the timed runs.
    * Pinned blocks are freed only after a collection has cleared their
    * RDDs and the context cleaner has dropped the blocks, which lags on
    * a contended host: collect until two readings agree within 1 MB (at
    * most ten) and keep the lowest.
    */
  private def retainedHeapMb(): Double = {
    def reading() = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = reading()
    var low = prev
    var n = 1
    var settled = false
    while (!settled && n < 10) {
      val r = reading()
      settled = math.abs(r - prev) < 1.0
      low = math.min(low, r)
      prev = r
      n += 1
    }
    low
  }

  /** One traced pass, after the timed runs: a set-up repetition and one
    * run, attributed to modules. The run is checked like any other; the
    * tracing overhead is its wall against the timed runs' median.
    */
  private def traced(spark: SparkSession, w: Workload, attempt: Runner,
      k: Int, work: Path): (Map[String, Any], Map[String, Any]) = {
    val sc = spark.sparkContext
    val gcBefore = gcSeconds
    val trace = new Trace(sc)
    sc.addSparkListener(trace)
    val t0 = System.currentTimeMillis()
    w.setup(2)
    val rec = Trace.withProperty(sc, Trace.PhaseKey, "run")(
      attempt(k, timed = false))
    val t1 = System.currentTimeMillis()
    val m = trace.metrics(t0, t1)
    sc.removeSparkListener(trace)
    val spans = trace.spans
    val spansFile = work.resolve("trace_spans.json")
    Files.writeString(spansFile, Json.render(spans.map(s => Map(
      "job" -> s.job, "exec" -> s.exec, "module" -> s.module,
      "label" -> s.label, "start_ms" -> s.start, "end_ms" -> s.end,
      "exec_ms" -> s.execMs, "cpu_ms" -> s.cpuNs / 1000000L,
      "tasks" -> s.tasks))))
    val ratios = rec.get("ratios").collect {
      case r: Map[String, Double] @unchecked => r }.getOrElse(Map.empty)
    (Map("metrics" -> (m ++ ratios ++ Seq(
        "spark.gc_s" -> (gcSeconds - gcBefore),
        "core.persistent_rdds_leaked" ->
          rec("persistent_rdds_leaked").asInstanceOf[Int].toDouble)),
      "traced_wall_s" -> rec.getOrElse("wall_s", Double.NaN),
      "spans_file" -> spansFile.toString,
      "unknown_modules" -> spans.map(_.module).distinct
        .filterNot(Trace.Modules.contains)), rec)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
}

/** What a result was measured on; results with different stamps are
  * never compared.
  */
object Stamp {
  def apply(spark: SparkSession): Map[String, Any] = {
    val conf = spark.conf
    // every graft knob left at its default; the index root is the
    // invocation's own directory, so only its presence is recorded
    val knobs = sys.env.collect {
      case (k, v) if k.startsWith("SPARK_GRAFT_") =>
        k -> (if (k == "SPARK_GRAFT_INDEX_DIR") "per-invocation" else v)
    }
    Map(
      "cores" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "index_buckets" -> graft.operators.IndexCommit.numBuckets,
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "graft_env" -> knobs)
  }
}

/** Minimal JSON writer for the harness's own output. */
final class Json {
  private val fields = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  def put(k: String, v: Any): Unit = fields(k) = v
  def render: String = Json.render(fields.toMap)
}

object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
