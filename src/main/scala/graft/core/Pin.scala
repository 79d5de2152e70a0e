package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way graft pins a frame: an eager local checkpoint, named.
  *
  * `Pin(df, name)` materializes `df` once and returns a frame that reads
  * the checkpoint blocks, so a subtree with several consumers (or a
  * loop's lineage) is computed once. The checkpoint job's call site is
  * `"<name> localCheckpoint"`, with the caller's stack as its long form,
  * so call-site attribution sees the pin by name and in the caller's
  * module.
  *
  * `Pin.scope { body }` releases every pin made inside `body` on this
  * thread when `body` exits, normally or by exception. A pin that `body`
  * returns as-is outlives the scope: it is handed to the enclosing scope,
  * if any. Scopes nest and are per-thread (a plain, non-inheritable
  * `ThreadLocal`). With no scope open, `Pin` keeps no reference to what it
  * pinned and the ContextCleaner reclaims it once the frame is garbage.
  *
  * Release unpersists the checkpointed RDD itself (`Dataset.unpersist`
  * only drops a cache entry, which a checkpoint does not have), so a
  * frame read after its scope closed fails instead of recomputing.
  */
object Pin {

  private type Pins = ArrayBuffer[RDD[_]]

  private val open = new ThreadLocal[List[Pins]] {
    override def initialValue(): List[Pins] = Nil
  }

  private val ShortForm = "callSite.short"
  private val LongForm = "callSite.long"

  def apply(df: DataFrame, name: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prev = (sc.getLocalProperty(ShortForm), sc.getLocalProperty(LongForm))
    sc.setLocalProperty(ShortForm, s"$name localCheckpoint")
    sc.setLocalProperty(LongForm, callerStack())
    val pinned =
      try df.localCheckpoint(true)
      finally {
        sc.setLocalProperty(ShortForm, prev._1)
        sc.setLocalProperty(LongForm, prev._2)
      }
    open.get.headOption.foreach(_ ++= rddOf(pinned))
    pinned
  }

  def scope[T](body: => T): T = {
    val mine: Pins = ArrayBuffer.empty
    val outer = open.get
    open.set(mine :: outer)
    try {
      val out = body
      out match {
        case ds: Dataset[_] => rddOf(ds).filter(mine.contains).foreach { r =>
          mine -= r
          outer.headOption.foreach(_ += r)
        }
        case _ =>
      }
      out
    } finally {
      open.set(outer)
      mine.foreach(_.unpersist(blocking = false))
    }
  }

  /** The checkpointed RDD under a pinned frame. */
  private def rddOf(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.logical match {
      case r: LogicalRDD => Some(r.rdd)
      case _ => None
    }

  /** The caller's stack, in Spark's long call-site form. */
  private def callerStack(): String =
    Thread.currentThread.getStackTrace.iterator
      .dropWhile(!_.getClassName.startsWith("graft.core.Pin$"))
      .dropWhile(_.getClassName.startsWith("graft.core.Pin$"))
      .take(20).mkString("\n")
}
