package graft.ops

import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, DataFrameWriter, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Per-FILE Bloom filters over key columns: data skipping for POINT
  * lookups where every file spans the key domain and min/max prune
  * nothing (Delta's Bloom index / Iceberg's bloom column metrics).
  *
  * The filters live INSIDE the data files: Parquet's split-block
  * filter per column chunk
  * (https://github.com/apache/parquet-format/blob/master/BloomFilter.md),
  * written and read by parquet-mr. A file carries its filter through
  * every hard link, clone, DV delete and rebase, and the filter cannot
  * drift from the bytes it describes. Three pieces: [[write]] (the
  * writer options), [[columnsOf]] (which columns a footer filters: a
  * verb or compaction filters what its source files filter) and
  * [[mayHold]] (the probe, run inside `Upsert.footerFacts`' footer
  * open, so one open per file answers bounds and membership). */
object Bloom {

  /** Target false-positive rate per filter (parquet-mr's default). On
    * `local[2]`, adaptive sizing below, 0 false negatives over every
    * member key; false positives among non-members: 18 / 160,000 at
    * 312 rows/file, 97 / 80,000 at 2,000, 84 / 60,000 at 16,700.
    * 0.001 picked the same filter sizes at all three row counts. */
  private val Fpp = 0.01

  /** Adaptive sizing: parquet-mr builds this many candidate filters,
    * halving down from its 1 MiB cap, and keeps the smallest that
    * holds the file's distinct count at [[Fpp]]. Measured: the default
    * 5 gave 65,553 B for a 312-row file; 12 gives 1,040 B at 312
    * rows/file, 4,112 B at 2,000 and 32,785 B at 16,700. */
  private val Candidates = 12

  /** `w` landing a filter on each of `cols`; `w` as is for none. */
  def write[T](w: DataFrameWriter[T], cols: Seq[String]): DataFrameWriter[T] =
    if (cols.isEmpty) w
    else cols.foldLeft(w.option("parquet.bloom.filter.adaptive.enabled", "true")) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.candidates.number#$c", Candidates.toLong)
        .option(s"parquet.bloom.filter.fpp#$c", Fpp)
    }

  /** The columns `file`'s footer holds a filter for, in any row group. */
  def columnsOf(spark: SparkSession, file: String): Seq[String] =
    Layout.readFooter(spark.sparkContext.hadoopConfiguration, file)
      .getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      .collect { case c if c.getBloomFilterOffset >= 0 => c.getPath.toDotString }
      .distinct

  /** Keys to probe `column` for; a NULL key keeps every file. */
  final case class Probe(column: String, keys: Array[Any])

  /** May the open file hold a key of `p`? Some(false) only when every
    * row group's filter rules every key out; None when a row group has
    * no filter on the column, or an unreadable one: the file is a
    * candidate, as a file with unknown bounds is. */
  private[ops] def mayHold(r: ParquetFileReader, p: Probe): Option[Boolean] = {
    val groups = r.getFooter.getBlocks.asScala.toSeq.map { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == p.column).flatMap { c =>
        Try(Option(r.getBloomFilterDataReader(b).readBloomFilter(c))).toOption.flatten
          .map(f => p.keys.exists(
            k => hash(f, c.getPrimitiveType.getPrimitiveTypeName, k).forall(f.findHash)))
      }
    }
    if (groups.isEmpty || groups.contains(None)) None else Some(groups.flatten.contains(true))
  }

  /** `k` under parquet-mr's hash for the column's physical type: INT64
    * for Long, INT32 for Int, Short and Byte, BINARY for String. None
    * (may hold) for a pairing no writer produces. */
  private def hash(f: BloomFilter, t: PrimitiveTypeName, k: Any): Option[Long] = (t, k) match {
    case (PrimitiveTypeName.INT64, n: java.lang.Number) => Some(f.hash(n.longValue))
    case (PrimitiveTypeName.INT32, n: java.lang.Number) => Some(f.hash(n.intValue))
    case (PrimitiveTypeName.BINARY, s: String) => Some(f.hash(Binary.fromString(s)))
    case _ => None
  }

  /** Read only the table's files that MAY hold one of `keys` on
    * `keyCol` (its filter, and its footer bounds, allow it), with the
    * exact residual filter. Refuses a table where no file has a filter
    * on `keyCol`: that lookup would read everything.
    *
    * @return (rows, data files, files read) */
  def readPruned(
      spark: SparkSession, tablePath: String, keyCol: String,
      keys: Seq[Long]): (DataFrame, Int, Int) = {
    val files = Layout.listDataFiles(spark, tablePath)
    val facts = Upsert.footerFacts(spark, files, Seq(keyCol -> LongType), tablePath,
      Some(Probe(keyCol, keys.toArray)))
    require(facts.exists(_.mayHold.isDefined),
      s"no data file under $tablePath has a Parquet Bloom filter on '$keyCol' — " +
        "write the table through Bloom.write")
    val hit = facts.collect { case f if !f.mayHold.contains(false) &&
        f.bounds.exists { case (_, _, mn, mx) =>
          mn == null || keys.exists(k => k >= mn.toLong && k <= mx.toLong) } => f.file }.sorted
    val data =
      if (hit.isEmpty) Layout.readParquet(spark, Seq(files.head)).limit(0) // empty, correct schema
      else Layout.readParquet(spark, hit)
    (data.filter(col(keyCol).isin(keys: _*)), files.size, hit.size)
  }
}
