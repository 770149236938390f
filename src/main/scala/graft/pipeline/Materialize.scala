package graft.pipeline

import java.lang.ref.{ReferenceQueue, WeakReference}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftFrames}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** The one way graft materializes an intermediate frame, and the one
  * lifecycle for what it holds on the cluster.
  *
  * `Materialize(df)` runs `df` once into `MEMORY_AND_DISK` blocks and
  * returns a frame whose logical plan is a `Scan ExistingRDD` over them:
  * iterative operators plan in constant depth and every consumer reads
  * the same rows. The RDD keeps its lineage, so a lost block recomputes
  * instead of failing the job (and the shuffle files that lineage reads
  * stay on disk while the frame is alive). Nothing enters the SQL
  * `CacheManager`, so no later query can match a stale entry.
  *
  * A frame whose analyzed plan is non-deterministic (`rand`, `uuid`, a
  * non-deterministic UDF) is truncated with `localCheckpoint` instead: a
  * recompute could redraw rows a consumer already used, so a lost block
  * fails loudly.
  *
  * Materialized RDDs and [[track]]ed broadcasts are freed when the
  * [[scope]] they were made in on this thread exits; outside any scope
  * they join a weak global registry that [[release]] drains, and the
  * ContextCleaner frees them once unreachable.
  */
object Materialize {

  def apply(df: DataFrame): DataFrame = apply(df, eager = true)

  /** With `eager` false the first consumer fills the blocks, instead of
    * a job of their own.
    */
  private[graft] def apply(df: DataFrame, eager: Boolean): DataFrame = {
    val qe = df.queryExecution
    if (!qe.analyzed.deterministic) {
      val cp = df.localCheckpoint(eager)
      cp.queryExecution.analyzed.foreach {
        case lr: LogicalRDD => register(lr.rdd)
        case _ => ()
      }
      cp
    } else {
      val rdd = SQLExecution.withNewExecutionId(qe, Some("materialize")) {
        val r = qe.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
        if (eager) r.count()
        r
      }
      GraftFrames.overRdd(df, register(rdd))
    }
  }

  def track[T](b: Broadcast[T]): Broadcast[T] = register(b)

  /** Run `body`, then free what it materialized or tracked on this
    * thread. A deterministic frame stays readable afterwards (it
    * recomputes); a truncated one, or one reading a tracked broadcast,
    * must be consumed inside `body`.
    */
  def scope[A](body: => A): A = {
    val outer = scoped.get()
    val mine = new java.util.ArrayList[AnyRef]()
    scoped.set(mine)
    try body
    finally {
      if (outer != null) scoped.set(outer) else scoped.remove()
      mine.forEach(free)
    }
  }

  /** Free everything registered outside a scope since the last drain
    * (with [[scope]]'s caveat); returns how many were still alive.
    */
  def release(): Int = {
    var n = 0
    global.forEach { ref =>
      if (global.remove(ref)) {
        val x = ref.get()
        if (x != null) { free(x); n += 1 }
      }
    }
    n
  }

  private val scoped = new ThreadLocal[java.util.ArrayList[AnyRef]]()
  // refs cleared by GC leave the set on the next registration
  private val global = ConcurrentHashMap.newKeySet[WeakReference[AnyRef]]()
  private val cleared = new ReferenceQueue[AnyRef]()

  private def register[T <: AnyRef](x: T): T = {
    val mine = scoped.get()
    if (mine != null) mine.add(x)
    else {
      var r = cleared.poll()
      while (r != null) { global.remove(r); r = cleared.poll() }
      global.add(new WeakReference[AnyRef](x, cleared))
    }
    x
  }

  private def free(x: AnyRef): Unit = x match {
    case r: RDD[_] => r.unpersist(blocking = false)
    case b: Broadcast[_] => b.destroy()
  }
}
