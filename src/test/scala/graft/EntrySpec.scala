package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Flagship-entry gate: beyond the driver's rows>0 smoke contract, the
  * full XX-fixture pipeline output (ingest → tidy → annualize → NSVB
  * carbon) is pinned — row count, CARBON_AG null/non-null split, and an
  * order-independent checksum over (tree_ID, YEAR, CARBON_AG@1e-6) — so
  * an NSVB or annualize regression cannot slip through as "still
  * returns rows". Deliberate semantics changes: re-run
  * `graft.tools.EntryPin` and update the pins. */
class EntrySpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("flagship entry output is pinned: counts, null split, checksum") {
    val df = SparkEntry.entry(spark).cache()
    try {
      assert(df.count() == 66)
      assert(df.filter(col("CARBON_AG").isNull).count() == 16)
      assert(df.filter(col("CARBON_AG").isNotNull).count() == 50)
      val checksum = df.select(xxhash64(
          col("tree_ID"), col("YEAR"), round(col("CARBON_AG"), 6)).as("h"))
        .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
      assert(checksum == 5343322576546874301L)
    } finally df.unpersist()
  }
}
