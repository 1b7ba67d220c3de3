package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative FS counters: metadata reads (open, list) and writes
  * (create, rename) issued through the engine's `ops.Fs` substrate —
  * counted while its audit is enabled — and bytes written through any
  * Hadoop FileSystem of the `file:` scheme, by any thread of this JVM
  * (driver and local executors alike). */
final case class FsCounts(readOps: Long, writeOps: Long, bytesWritten: Long) {
  def -(o: FsCounts) = FsCounts(readOps - o.readOps, writeOps - o.writeOps,
    bytesWritten - o.bytesWritten)
  def +(o: FsCounts) = FsCounts(readOps + o.readOps, writeOps + o.writeOps,
    bytesWritten + o.bytesWritten)
  def ops: Long = readOps + writeOps
}

object FsCounts {
  val zero = FsCounts(0, 0, 0)

  def now(): FsCounts = {
    import scala.jdk.CollectionConverters._
    val audit = graft.ops.Fs.Audit.snapshot()
    def ops(kinds: String*) =
      audit.collect { case (k, n) if kinds.exists(x => k.startsWith(x + ":")) => n }.sum
    @annotation.nowarn("cat=deprecation")
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    FsCounts(ops("open", "list"), ops("create", "rename"), stats.map(_.getBytesWritten).sum)
  }
}

/** One timed call into a layer. Times are wall-clock: `ns` for
  * durations, `ms` to line up with Spark's event timestamps. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long, val startMs: Long, val fs0: FsCounts) {
  var endNs: Long = -1L
  var endMs: Long = Long.MaxValue
  var fs: FsCounts = FsCounts.zero
  // Spark counters of jobs whose innermost enclosing span is this one
  var jobs, stages, tasks, busyMs, gcMs, shuffleBytes, spillBytes = 0L
  var firstJobMs: Long = Long.MaxValue
  def durS: Double = (endNs - startNs) / 1e9
}

/** Inclusive totals over every span of one layer name. */
final case class LayerAgg(
    durS: Double, jobs: Long, stages: Long,
    tasks: Long, busyS: Double, idleS: Double, gcS: Double,
    shuffleBytes: Long, spillBytes: Long, fs: FsCounts)

/** Span recorder for the traced run. Each call into a layer is wrapped
  * in [[span]]; spans nest (the parent is the innermost open span) and
  * stay in memory until [[dump]] writes them out at exit.
  *
  * Spark work is attributed to spans through a local property set on
  * the calling thread for the span's duration: a job carries it in its
  * properties, its stages and tasks follow the job. A thread started
  * inside a span (a streaming query's) keeps the property it inherited,
  * so a job goes to the innermost span open at its submission within
  * the span its property names — the benchmark is one closed-loop
  * client, so at most one chain of spans is open at any moment. FS
  * counters are read at span boundaries for the same reason.
  *
  * Disabled (the untraced run), [[span]] runs its body and records
  * nothing, and no listener is attached. */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = mutable.Map.empty[Int, Span]
  // (launch ms, finish ms) of every finished task
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** The span a job submitted at `tMs` belongs to: the innermost span
    * open then, within the span its thread's property names when that
    * one is still open. */
  private def spanAt(prop: Option[Int], tMs: Long): Option[Span] = synchronized {
    def openAt(s: Span) = s.startMs <= tMs && tMs <= s.endMs
    val root = prop.map(spans).filter(openAt)
    spans.reverseIterator.find(s => openAt(s) && root.forall(r => s == r || ancestors(s).contains(r)))
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt)
      spanAt(prop, e.time).foreach { s =>
        Tracer.this.synchronized {
          s.jobs += 1
          s.firstJobMs = math.min(s.firstJobMs, e.time)
          e.stageIds.foreach(stageSpan(_) = s)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
          s.tasks += 1
          s.busyMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  /** Attach the listener and the FS audit (traced runs only). */
  def start(): Unit = if (enabled) {
    sc.addSparkListener(listener)
    graft.ops.Fs.Audit.enable()
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id),
          System.nanoTime(), System.currentTimeMillis(), FsCounts.now())
        spans += s
        open = s :: open
        s
      }
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally synchronized {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.fs = FsCounts.now() - s.fs0
        open = open.tail
        sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
      }
    }

  private def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  private def descendants(s: Span): Seq[Span] =
    children(s).flatMap(c => c +: descendants(c))

  /** Wall time of `[from, to]` covered by the union of `intervals`. */
  private def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    for ((a0, b0) <- intervals.sortBy(_._1)) {
      val a = math.max(a0, from); val b = math.min(b0, to)
      if (a < b) {
        if (a > curE) { total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    }
    total + (curE - curS)
  }

  /** Span duration minus the part of it its child spans cover. */
  private def selfS(s: Span): Double = {
    val kids = children(s).map(c => (c.startNs, c.endNs))
    (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e9
  }

  /** Span time with no task of any job running. */
  private def idleS(s: Span): Double =
    (s.endMs - s.startMs - covered(taskIntervals.toSeq, s.startMs, s.endMs)) / 1e3

  /** Inclusive totals over the closed spans named `name`; spans nested
    * in a same-named span count once. */
  def layer(name: String): LayerAgg =
    agg(s => s.name == name && !ancestors(s).exists(_.name == name))

  /** Inclusive totals over every closed top-level span: all traced work. */
  def roots: LayerAgg = agg(_.parent < 0)

  private def agg(top0: Span => Boolean): LayerAgg = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val top = spans.filter(s => s.endNs >= 0 && top0(s)).toSeq
      val all = top.flatMap(s => s +: descendants(s))
      LayerAgg(top.map(_.durS).sum, all.map(_.jobs).sum, all.map(_.stages).sum, all.map(_.tasks).sum,
        all.map(_.busyMs).sum / 1e3, top.map(idleS).sum, all.map(_.gcMs).sum / 1e3,
        all.map(_.shuffleBytes).sum, all.map(_.spillBytes).sum,
        top.map(_.fs).foldLeft(FsCounts.zero)(_ + _))
    }
  }

  /** Summed time from the start of each span named `name` to the first
    * job it submitted. */
  def preJobS(name: String): Double = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      spans.filter(s => s.name == name && s.firstJobMs < Long.MaxValue)
        .map(s => (s.firstJobMs - s.startMs) / 1e3).sum
    }
  }

  private def ancestors(s: Span): Seq[Span] =
    if (s.parent < 0) Nil else { val p = spans(s.parent); p +: ancestors(p) }

  /** Write every span as one JSON object per line. */
  def dump(path: String): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try synchronized {
      for (s <- spans if s.endNs >= 0) w.println(Json.obj(Seq(
        "run_id" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS,
        "self_s" -> selfS(s), "idle_s" -> idleS(s), "jobs" -> s.jobs,
        "stages" -> s.stages, "tasks" -> s.tasks, "task_busy_s" -> s.busyMs / 1e3,
        "gc_s" -> s.gcMs / 1e3, "shuffle_bytes" -> s.shuffleBytes,
        "spill_bytes" -> s.spillBytes, "fs_read_ops" -> s.fs.readOps,
        "fs_write_ops" -> s.fs.writeOps, "fs_bytes_written" -> s.fs.bytesWritten)))
    } finally w.close()
  }
}
