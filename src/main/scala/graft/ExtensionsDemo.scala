package graft

import org.apache.spark.sql.SparkSession

/** Fresh-JVM proof that the engine installs purely via
  * `spark.sql.extensions=graft.GraftExtensions`: the custom functions
  * resolve in plain spark.sql with NO Engine.install call, and the injected
  * optimizer rule folds empty-url ends_with_source at plan time.
  *
  * Usage: sbt "runMain graft.ExtensionsDemo"
  */
object ExtensionsDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-demo")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = spark.sql(
      """SELECT slugify('Nikola Jokić') AS slug,
        |  fmt_month_abbrev('2025-05-07') AS pretty,
        |  stable_hash64('x') AS h,
        |  ends_with_source('snippet', '', 'name') AS ews,
        |  simhash60(array('a','b')) AS sh,
        |  size(minhash8(array('a b c'))) AS mh,
        |  token_max_run(array('a','a','b')) AS tmr,
        |  token_top_count(array('a','a','b')) AS ttc,
        |  cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cs,
        |  hyperplane_bucket64(array(1.0F, 0.0F)) AS hp""".stripMargin)
    val row = r.head()
    println(s"FUNCTIONS slug=${row.getString(0)} pretty=${row.getString(1)} " +
      s"h=${row.getLong(2)} ews=${row.getBoolean(3)} sh=${row.get(4)} " +
      s"mh=${row.get(5)} tmr=${row.get(6)} ttc=${row.get(7)} " +
      s"cs=${row.get(8)} hp=${row.get(9)}")
    val folded = !r.queryExecution.optimizedPlan.toString.contains("ends_with_source")
    println(s"RULE_FOLDED=$folded")
    // injected AGGREGATES resolve in plain SQL too
    val a = spark.sql(
      """SELECT misra_gries(v, 3) AS mg,
        |  element_at(count_min(v), 1) >= 0 AS cm,
        |  bounded_top_k(named_struct('score', CAST(id AS DOUBLE), 'id', id), 2) AS tk,
        |  size(union_find(id, id + 1)) > 0 AS uf
        |FROM (SELECT id, CAST(id % 3 AS STRING) AS v FROM range(50))""".stripMargin)
    val arow = a.head()
    println(s"AGGREGATES mg=${arow.getSeq[String](0).sorted.mkString(",")} " +
      s"cm=${arow.get(1)} tk=${arow.get(2)} uf=${arow.get(3)}")
    // the injected PLANNER STRATEGY: this session was never installed,
    // so planning an AsofJoin node here proves injectPlannerStrategy
    // wired AsofJoinStrategy into it
    import org.apache.spark.sql.functions.{col, expr}
    val probes = spark.range(4).select(col("id").as("event_id"),
      (col("id") % 2).as("k"), expr("timestamp_seconds(id * 100)").as("ts"))
    val builds = spark.range(2).select(col("id").as("bk"),
      expr("timestamp_seconds(id * 50)").as("bts"), (col("id") * 10.0).as("v"))
    val asof = org.apache.spark.sql.graft.Bridge.ofRows(spark,
      plans.Asof.node(probes, builds, Seq("k" -> "bk"), "ts", "bts"))
    val matched = asof.filter(col("v").isNotNull).count()
    val planned = asof.queryExecution.executedPlan.toString.contains("AsofJoin")
    println(s"ASOF_STRATEGY planned=$planned matched=$matched")
    // the injected STRUCTURAL optimizer rule: with the conf flag set,
    // an eligible interval join re-plans into the bucketed layout
    spark.conf.set(plans.BucketIntervalJoin.EnabledKey, "true")
    val iv = probes.join(builds.select(col("bk"), col("bts"), col("v")),
      col("k") === col("bk") && col("bts") <= col("ts") &&
        col("bts") >= col("ts") - expr("INTERVAL 1 HOUR"))
    val bucketed = iv.queryExecution.optimizedPlan.toString
      .contains(plans.BucketIntervalJoin.BucketPrefix)
    println(s"INTERVAL_RULE bucketed=$bucketed rows=${iv.count()}")
    spark.stop()
  }
}
