package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.json4s._
import org.json4s.jackson.JsonMethods.compact

/** Per-query layer profile: Bench's record of where each timed query's
  * seconds went, one JSON line per query in `<bench out>.layers`.
  *
  * Spark work is attributed through a local property naming the pass
  * (`query#pass`), set on the driver thread for the pass's duration: a
  * job carries it in its properties, stages and tasks follow the job,
  * and a thread started inside the pass (a streaming query's) inherits
  * it. FS metadata ops are the [[ops.Fs.Audit]] deltas across the pass.
  *
  * Listener events arrive asynchronously; the counters of a pass are
  * complete once the listener bus is drained (`SparkContext.stop()`
  * drains it). Time spent in the callbacks and the audit snapshots is
  * summed into [[overheadS]], so the profile's cost is measured. */
final class LayerProfile(sc: SparkContext) extends SparkListener {
  import LayerProfile._

  private val passes = mutable.Map.empty[String, Counters]
  private val stagePass = mutable.Map.empty[Int, Counters]
  // call site of each running SQL execution: the action's caller. Its
  // jobs may be submitted from adaptive-execution or broadcast threads,
  // whose own call site names only the thread pool
  private val execSites = mutable.Map.empty[String, String]
  private val overheadNs = new java.util.concurrent.atomic.AtomicLong

  private def measured[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      measured(synchronized(execSites(s.executionId.toString) = s.description))
    case s: SparkListenerSQLExecutionEnd =>
      measured(synchronized(execSites.remove(s.executionId.toString)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = measured {
    for (p <- Option(e.properties); tag <- Option(p.getProperty(Key))) synchronized {
      val c = passes.getOrElseUpdate(tag, new Counters)
      c.jobs += 1
      c.sites += Option(p.getProperty("spark.sql.execution.id")).flatMap(execSites.get)
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
      e.stageIds.foreach(stagePass(_) = c)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = measured {
    synchronized { stagePass.get(e.stageInfo.stageId).foreach(_.stages += 1) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = measured {
    synchronized {
      for (c <- stagePass.get(e.stageId); m <- Option(e.taskMetrics)) {
        c.tasks += 1
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Run `body` as pass `tag`: its Spark jobs and FS ops count toward
    * the tag. Returns the body's result and the pass's `op:artifact`
    * FS deltas. */
  def pass[T](tag: String)(body: => T): (T, Map[String, Long]) = {
    val before = measured {
      sc.setLocalProperty(Key, tag)
      ops.Fs.Audit.snapshot()
    }
    try {
      val r = body
      (r, measured {
        ops.Fs.Audit.snapshot().map { case (k, n) => k -> (n - before.getOrElse(k, 0L)) }
          .filter(_._2 != 0)
      })
    } finally sc.setLocalProperty(Key, null)
  }

  /** Spark counters of pass `tag`; complete once the bus is drained. */
  def counters(tag: String): Counters =
    synchronized(passes.getOrElse(tag, new Counters))

  def overheadS: Double = overheadNs.get / 1e9
}

object LayerProfile {
  private val Key = "graft.layers.pass"

  final class Counters {
    var jobs, stages, tasks, shuffleRead, shuffleWrite, spill = 0L
    val sites = mutable.ArrayBuffer.empty[String]
  }

  /** Attach a profile to the session's listener bus and turn the FS
    * audit on. */
  def attach(sc: SparkContext): LayerProfile = {
    val p = new LayerProfile(sc)
    sc.addSparkListener(p)
    ops.Fs.Audit.enable()
    p
  }

  /** Split of one timed region: nanoTime stamps after the query
    * function, after the forced action's physical planning and after
    * its execution. */
  final case class Stamps(t0: Long, t1: Long, t2: Long, t3: Long) {
    def seconds: Double = (t3 - t0) / 1e9
  }

  /** Exchange and data-source scan nodes of an executed plan, through
    * adaptive query stages and subqueries. */
  def planCounts(plan: SparkPlan): (Int, Int) = {
    val h = new AdaptiveSparkPlanHelper {}
    (h.collectWithSubqueries(plan) { case e: Exchange => e }.size,
     h.collectWithSubqueries(plan) {
       case s: org.apache.spark.sql.execution.DataSourceScanExec => s
       case s: DataSourceV2ScanExecBase => s
     }.size)
  }

  /** One `.layers` record. */
  def record(query: String, pass: Int, s: Stamps, c: Counters,
      fsOps: Map[String, Long], exchanges: Int, scans: Int): String =
    compact(JObject(
      "query" -> JString(query), "pass" -> JInt(pass),
      "seconds" -> JDouble(s.seconds),
      "construct_s" -> JDouble((s.t1 - s.t0) / 1e9),
      "plan_s" -> JDouble((s.t2 - s.t1) / 1e9),
      "exec_s" -> JDouble((s.t3 - s.t2) / 1e9),
      "jobs" -> JLong(c.jobs), "stages" -> JLong(c.stages), "tasks" -> JLong(c.tasks),
      "shuffle_read_bytes" -> JLong(c.shuffleRead),
      "shuffle_write_bytes" -> JLong(c.shuffleWrite),
      "spill_bytes" -> JLong(c.spill),
      "job_sites" -> JArray(c.sites.map(JString(_)).toList),
      "fs_ops" -> JObject(fsOps.toSeq.sorted.map { case (k, n) => k -> JLong(n) }: _*),
      "exchanges" -> JInt(exchanges), "scans" -> JInt(scans)))
}
