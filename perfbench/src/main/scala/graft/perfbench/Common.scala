package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent checksum of a frame's rows over all its columns
  * (xxhash64 of every column, summed in two 32-bit halves, plus the row
  * count): equal checksums mean equal row multisets, bit for bit,
  * barring a hash collision. Sums make it additive, so a change feed can
  * be checked against the two versions it connects. */
final case class Checksum(rows: Long, lo: Long, hi: Long) {
  def +(o: Checksum) = Checksum(rows + o.rows, lo + o.lo, hi + o.hi)
  def -(o: Checksum) = Checksum(rows - o.rows, lo - o.lo, hi - o.hi)
}

object Checksum {
  def of(df: DataFrame): Checksum = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    Checksum(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** One hex digest over several strings: an input fingerprint. */
  def digest(parts: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString(";").getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
}

/** Metrics every workload reports the same way. */
object Common {
  /** The engine beneath every layer (`spark`) and the bytes its FS layer
    * wrote (`ops.Fs`), over the traced ops, and the commits' jobs and
    * idle time: the per-layer metrics of the result line. */
  def engineLayers(report: Report, cycle: LayerAgg, commit: LayerAgg, cores: Int): Unit = {
    val p = report.perLayer
    p("spark.jobs") = Metric(cycle.jobs.toDouble, "count")
    p("spark.stages") = Metric(cycle.stages.toDouble, "count")
    p("spark.tasks") = Metric(cycle.tasks.toDouble, "count")
    p("spark.task_busy_s") = Metric(cycle.busyS, "s")
    p("spark.idle_s") = Metric(cycle.idleS, "s")
    p("spark.core_util") = Metric(cycle.busyS / (cycle.durS * cores), "ratio")
    p("spark.shuffle_bytes") = Metric(cycle.shuffleBytes.toDouble, "bytes")
    p("spark.gc_s") = Metric(cycle.gcS, "s")
    p("ops.Fs.bytes_written") = Metric(cycle.fs.bytesWritten.toDouble, "bytes")
    p("commit.jobs") = Metric(commit.jobs.toDouble, "count")
    p("commit.idle_s") = Metric(commit.idleS, "s")
  }

  /** The rest of the engine-wide counters, for the report line. */
  def engineDetail(cycle: LayerAgg): Map[String, Any] = Map(
    "spark.spill_bytes" -> cycle.spillBytes,
    "ops.Fs.read_ops" -> cycle.fs.readOps, "ops.Fs.write_ops" -> cycle.fs.writeOps)

  /** The commit engine's metrics over the spans named `name`. */
  def commitDetail(t: Tracer, name: String, filesRewritten: Double, filesCopied: Double,
      usefulRatio: Double): Map[String, Any] = {
    val c = t.layer(name)
    Map("ops.Upsert.commit_s" -> c.durS, "ops.Upsert.jobs" -> c.jobs,
      "ops.Upsert.idle_s" -> c.idleS, "ops.Upsert.fs_ops" -> c.fs.ops,
      "ops.Upsert.files_rewritten" -> filesRewritten, "ops.Upsert.files_copied" -> filesCopied,
      "ops.Upsert.useful_ratio" -> usefulRatio)
  }
}
