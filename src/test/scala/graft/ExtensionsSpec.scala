package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Scalars

/** The domain optimizer rule + extensions surface. */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  test("empty-url ends_with_source folds to constant false in the plan") {
    val df = Engine.table(spark, "/root/testdata/sf0.001", "part")
      .select(Scalars.ends_with_source(col("p_name"), lit(""), col("p_brand")).as("s"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("ends_with_source"),
      s"expression not folded:\n$optimized")
    assert(optimized.contains("false"))
    assert(df.collect().forall(!_.getBoolean(0)))
  }

  test("non-empty and null urls are NOT folded (semantics preserved)") {
    val df = Engine.table(spark, "/root/testdata/sf0.001", "part")
      .select(
        Scalars.ends_with_source(col("p_name"), lit("https://x.com"), col("p_brand")).as("a"),
        Scalars.ends_with_source(col("p_name"), lit(null).cast("string"), col("p_brand")).as("b"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("ends_with_source"))
    // null url propagates null (expression semantics), not false
    assert(df.collect().forall(r => r.isNullAt(1)))
  }

  test("levenshtein <= k rewrites to length guard + banded form") {
    val df = Engine.table(spark, "/root/testdata/sf0.001", "part")
      .filter(levenshtein(col("p_name"), lit("small ring")) <= 2)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("levenshtein(p_name"),
      s"levenshtein should survive (banded):\n$optimized")
    assert(optimized.contains("Some(2)) >= 0"),
      s"expected the 3-arg threshold form compared to 0:\n$optimized")
    assert(optimized.contains("abs("),
      s"expected the length-difference guard:\n$optimized")
  }

  test("banded rewrite preserves results and null semantics") {
    import spark.implicits._
    val pairs = Seq(
      ("kitten", "sitting"),   // dist 3
      ("kitten", "mitten"),    // dist 1
      ("abc", "abc"),          // dist 0
      ("abc", "abcdefgh"),     // length gap 5 > k
      (null.asInstanceOf[String], "abc"),
      ("abc", null.asInstanceOf[String])).toDF("a", "b")
    // projection (not filter): null must stay null through the rewrite
    val flags = pairs
      .select(col("a"), col("b"), (levenshtein(col("a"), col("b")) <= 2).as("f"))
      .collect().map(r => if (r.isNullAt(2)) None else Some(r.getBoolean(2)))
    assert(flags.toSeq == Seq(
      Some(false), Some(true), Some(true), Some(false), None, None))
    // filtered form agrees with the unoptimized semantics
    val kept = pairs.filter(levenshtein(col("a"), col("b")) <= 2).count()
    assert(kept == 2)
    // strict < uses k-1
    val strict = pairs.filter(levenshtein(col("a"), col("b")) < 1).count()
    assert(strict == 1) // only the exact match
  }

  test("GraftExtensions installs into a fresh extensions container") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must register without throwing
  }

  private def resolves(s: SparkSession, name: String): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  test("every function in the one table resolves in Engine.session and is injected by GraftExtensions") {
    // full end-to-end (fresh session via spark.sql.extensions config) is
    // driven by graft.ExtensionsDemo in a separate JVM — a shared test
    // JVM can't construct a second SparkContext
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // SparkSessionExtensions.registerFunctions is private[sql]; it is a
    // public method in bytecode, so reflection reaches it
    val injected = new SimpleFunctionRegistry
    ext.getClass.getMethod("registerFunctions", classOf[FunctionRegistry])
      .invoke(ext, injected)
    val names = GraftExtensions.functions.map(_.name)
    assert(names.distinct.size == names.size, s"duplicate names: $names")
    names.foreach { n =>
      assert(resolves(spark, n), s"$n does not resolve in Engine.session")
      assert(injected.functionExists(FunctionIdentifier(n)),
        s"$n is not injected by GraftExtensions")
    }
    assert(injected.listFunction().map(_.funcName).toSet == names.toSet)
  }

  test("Engine.install is idempotent and thread-safe: 8 concurrent installs register everything once") {
    val s = spark.newSession()
    assert(!resolves(s, "slugify"), "a new session starts without the engine")
    val pool = Executors.newFixedThreadPool(8)
    try {
      val go = new CountDownLatch(1)
      val done = (1 to 8).map(_ =>
        pool.submit(new Callable[Unit] { def call(): Unit = { go.await(); Engine.install(s) } }))
      go.countDown()
      done.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(s.experimental.extraOptimizations == GraftExtensions.optimizerRules)
    assert(s.experimental.extraStrategies == GraftExtensions.strategies)
    GraftExtensions.functions.foreach(f => assert(resolves(s, f.name), f.name))
    assert(s.sql("SELECT slugify('Nikola Jokic') AS v").head().getString(0) == "nikola_jokic")
  }

  test("sketch aggregates are SQL-callable with the Column-API semantics") {
    import spark.implicits._
    val items = (Seq.fill(60)("hot") ++ (1 to 30).map(i => s"u$i")).toDF("item")
    items.createOrReplaceTempView("sql_agg_items")
    val mg = spark.sql(
      "SELECT misra_gries(item, 4) AS c FROM sql_agg_items")
      .collect()(0).getSeq[String](0)
    assert(mg.contains("hot"))
    val cm = spark.sql(
      "SELECT count_min(item) AS g FROM sql_agg_items")
      .collect()(0).getSeq[Long](0)
    assert(cm.sum == 90L * graft.functions.CountMinAgg.D)
    // k must be a literal — a column reference is rejected at plan time
    val err = intercept[Exception](
      spark.sql("SELECT misra_gries(item, length(item)) FROM sql_agg_items")
        .collect())
    assert(err.getMessage.toLowerCase.contains("literal"))
  }

  test("wrong-arity SQL calls fail with a named-function message, not IOOBE") {
    import spark.implicits._
    Seq("a", "b").toDF("item").createOrReplaceTempView("sql_arity_items")
    // missing k on a 2-arg aggregate: the pre-guard failure mode was a
    // raw IndexOutOfBoundsException from es(1) at plan time
    val e1 = intercept[Exception](
      spark.sql("SELECT misra_gries(item) FROM sql_arity_items").collect())
    assert(e1.getMessage.contains("misra_gries") &&
      e1.getMessage.contains("Expected: 2"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT union_find(item) FROM sql_arity_items").collect())
    assert(e2.getMessage.contains("union_find") &&
      e2.getMessage.contains("Expected: 2"), e2.getMessage)
    val e3 = intercept[Exception](
      spark.sql("SELECT slugify(item, item) FROM sql_arity_items").collect())
    assert(e3.getMessage.contains("slugify") &&
      e3.getMessage.contains("Expected: 1"), e3.getMessage)
    // a Long k outside Int range must be an error, not toInt truncation
    val e4 = intercept[Exception](
      spark.sql("SELECT bounded_top_k(item, 4294967297) FROM sql_arity_items")
        .collect())
    assert(e4.getMessage.contains("32-bit"), e4.getMessage)
  }
}
