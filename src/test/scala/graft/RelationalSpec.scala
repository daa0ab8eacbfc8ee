package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** t1-style smoke over sf0.001: every declared query runs, returns rows,
  * and a few load-bearing invariants hold. Exact value parity vs DuckDB
  * is checked by the driver (and locally via tools/check_oracle.py).
  */
class RelationalSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  test("every declared query runs and is non-empty (except empty-by-data)") {
    // q05: every customer may have orders; q56: the LSH buckets may not
    // co-locate the few above-threshold pairs at this tiny SF
    val allowedEmpty = Set("q05_anti_join", "q56_cosine_near_dup")
    for ((name, q) <- SparkEntry.queries) {
      val n = q(spark, dir).count()
      assert(n >= 0, s"$name failed")
      if (!allowedEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every query has oracle SQL (except non-SQL-expressible inputs)") {
    // q60 reads the frozen HTML corpus, not parquet — rows-only check by
    // design; exact values are pinned by RumorPipelineSpec goldens (and
    // q61 is its parquet twin with a full oracle).
    val rowsOnly = Set("q60_rumor_pipeline")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries missing oracles: $missing")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q16 offset/limit mirrors reference slice(1,9) semantics") {
    val rows = SparkEntry.queries("q16_offset_limit")(spark, dir).collect()
    assert(rows.length == 8)
    // the global max price row was skipped:
    val top = SparkEntry.queries("q03_top_orders")(spark, dir) // unrelated sanity
    assert(top.count() == 10)
  }

  test("q20 first-wins dedup emits one row per key") {
    val df = SparkEntry.queries("q20_first_wins_dedup")(spark, dir)
    val n = df.count()
    val keys = df.select("o_custkey", "o_orderstatus").distinct().count()
    assert(n == keys)
  }

  test("q32 approx_count_distinct is within HLL++ error of exact") {
    val rows = SparkEntry.queries("q32_approx_distinct")(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("parts_within_5pct") == 1L,
        s"parts estimate outside 5% for ${r.getAs[String]("l_returnflag")}")
      assert(r.getAs[Long]("orders_within_5pct") == 1L,
        s"orders estimate outside 5% for ${r.getAs[String]("l_returnflag")}")
    }
  }

  test("custom scalar expressions work via SQL registration too") {
    val r = spark.sql(
      "SELECT slugify('Nikola Jokić') AS s, fmt_month_abbrev('2025-05-07') AS f").head()
    assert(r.getString(0) == "nikola_jokic")
    assert(r.getString(1) == "May 7, 2025")
  }
}
