package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Attributes executor time to graft's modules, with AQE on.
  *
  * A job's module is the `graft.<module>` package of the first graft
  * frame in the call site of the SQL execution the job carries (the
  * `spark.sql.execution.id` job property). AQE submits query stages
  * from its own threads, but every such job still carries the
  * execution id, so its stages land in the module that called the
  * action. Frames in `graft.functions` and `graft.expressions` are
  * passed over, so their work counts under the module that launched
  * the job. A job with no graft frame (an action the harness itself
  * calls) takes the module the harness set as the [[Trace.ModuleKey]]
  * local property. Jobs outside any SQL execution use the call site of
  * their result stage.
  *
  * Spans stay in memory; [[spans]] hands them over at the end.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  final case class JobSpan(job: Int, exec: Long, module: String,
      label: String, start: Long, var end: Long, var execMs: Long = 0L,
      var cpuNs: Long = 0L, var tasks: Long = 0L)

  final class Acc {
    var execMs, cpuNs, tasks, shuffle, spill, written = 0L
  }

  private val sites = TrieMap.empty[Long, (String, String)]
  private val jobs = TrieMap.empty[Int, JobSpan]
  private val stageJob = TrieMap.empty[Int, Int]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sites(s.executionId) = (s.description, s.details)
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val (short, long) = sites.get(exec).getOrElse {
      val last = js.stageInfos.sortBy(_.stageId).lastOption
      (last.map(_.name).getOrElse(""), last.map(_.details).getOrElse(""))
    }
    val module = moduleOf(long).orElse(prop(ModuleKey)).getOrElse(Unknown)
    // only the run's jobs get q115 stage labels ("tail" outside any pin)
    val label =
      if (!prop(PhaseKey).contains("run")) ""
      else StageTag.findFirstMatchIn(short).map(_.group(1)).getOrElse("tail")
    jobs(js.jobId) = JobSpan(js.jobId, exec, module, label, js.time, js.time)
    js.stageIds.foreach(s => stageJob(s) = js.jobId)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobs.get(je.jobId).foreach(_.end = je.time)

  private val byModule = mutable.Map.empty[String, Acc]
  private val byLabel = mutable.Map.empty[String, Long]

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    if (m != null) {
      val span = stageJob.get(te.stageId).flatMap(jobs.get)
      val module = span.map(_.module).getOrElse(Unknown)
      val a = byModule.getOrElseUpdate(module, new Acc)
      a.execMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.tasks += 1
      a.shuffle += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.written += m.outputMetrics.bytesWritten
      span.foreach { s =>
        s.execMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.tasks += 1
        if (s.module == "operators" && s.label.nonEmpty)
          byLabel(s.label) = byLabel.getOrElse(s.label, 0L) + m.executorRunTime
      }
    }
  }

  def spans: Seq[JobSpan] = jobs.values.toSeq.sortBy(_.job)

  /** Per-layer metrics over everything traced, for wall `[t0, t1]` ms. */
  def metrics(t0: Long, t1: Long): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(summary(t0, t1))
  }

  private def summary(t0: Long, t1: Long): Map[String, Double] = {
    val jobCount = spans.groupBy(_.module).view.mapValues(_.size.toDouble)
    val mod = Modules.flatMap { m =>
      val a = byModule.getOrElse(m, new Acc)
      Seq(s"$m.exec_s" -> a.execMs / 1e3, s"$m.cpu_s" -> a.cpuNs / 1e9,
        s"$m.jobs" -> jobCount.getOrElse(m, 0.0), s"$m.tasks" -> a.tasks.toDouble,
        s"$m.shuffle_mb" -> a.shuffle / Mb, s"$m.spill_mb" -> a.spill / Mb,
        s"$m.write_mb" -> a.written / Mb)
    }
    val stages = Q115Stages.map(l =>
      s"operators.${l}_exec_s" -> byLabel.getOrElse(l, 0L) / 1e3)
    val total = byModule.values.map(_.execMs).sum
    val unattributed = byModule.collect {
      case (k, a) if !Modules.contains(k) => a.execMs
    }.sum
    // wall time covered by at least one running job
    val busy = spans.map(s => (math.max(s.start, t0), math.min(s.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (a >= reach) (acc + (b - a), b)
        else if (b > reach) (acc + (b - reach), b)
        else (acc, reach)
      }._1
    (mod ++ stages ++ Seq(
      "spark.idle_s" -> math.max(0L, (t1 - t0) - busy) / 1e3,
      "spark.jobs" -> spans.size.toDouble,
      "trace.unattributed_share" ->
        (if (total == 0) 0.0 else unattributed.toDouble / total))).toMap
  }
}

object Trace {
  /** Local property naming the module of harness-launched jobs. */
  val ModuleKey = "perfbench.module"
  /** Local property set to "run" while the traced run executes. */
  val PhaseKey = "perfbench.phase"
  val Unknown = "unknown"
  val Modules: Seq[String] = Seq("sources", "refbuild", "pipelines",
    "tagger", "bridge", "labs", "operators", "streaming", "core")
  val Q115Stages: Seq[String] = Seq("s0m", "s1", "s2", "s3", "s4", "s5",
    "tail")
  private val Transparent = Set("functions", "expressions")
  private val StageTag = "^q115:(\\w+) localCheckpoint".r
  private val Mb = 1024.0 * 1024.0

  /** Module of the first graft frame of a long-form call site. */
  def moduleOf(longForm: String): Option[String] =
    longForm.split("\n").iterator.flatMap { line =>
      val sig = line.trim.takeWhile(_ != '(')
      val cls = sig.substring(sig.lastIndexOf('/') + 1)
        .split('.').dropRight(1)
      if (cls.length >= 3 && cls(0) == "graft") Some(cls(1)) else None
    }.find(m => !Transparent(m))

  /** Runs `body` with harness-launched jobs attributed to `module`. */
  def withModule[T](sc: SparkContext, module: String)(body: => T): T =
    withProperty(sc, ModuleKey, module)(body)

  def withProperty[T](sc: SparkContext, key: String, value: String)(
      body: => T): T = {
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try body finally sc.setLocalProperty(key, prev)
  }
}
