package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Abs, And, Expression, ExpressionInfo, GreaterThan, GreaterThanOrEqual, If, IsNull, Length, LessThan, LessThanOrEqual, Levenshtein, Literal, Or, Subtract}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Domain-specific optimizer rule: `ends_with_source(snippet, '', name)`
  * is constant-false — the reference short-circuits on an empty url
  * before ever inspecting the snippet (fetchRumors.js:163
  * `if (!item.url) return false`). Folding it lets Catalyst eliminate
  * the whole regex evaluation (and any filter built on it) at plan
  * time. Only the empty-STRING literal folds; a null url stays an
  * expression (null-propagation semantics preserved).
  */
object SimplifyEndsWithSource extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case EndsWithSource(s, Literal(u: UTF8String, StringType), n)
        if u != null && u.numChars() == 0 =>
      // the regex never runs, but null-propagation must survive the
      // fold: a null snippet/name yields NULL from the unfolded
      // expression, so the constant-false only applies to non-null rows
      if (!s.nullable && !n.nullable) Literal(false, BooleanType)
      else If(Or(IsNull(s), IsNull(n)),
        Literal(null, BooleanType), Literal(false, BooleanType))
  }
}

/** Optimizer rule for similarity-join verify predicates:
  * `levenshtein(a, b) <= k` (the shape every blocked fuzzy join emits,
  * e.g. q98) computes the FULL O(|a|·|b|) edit-distance matrix per
  * candidate pair and then compares. Rewritten to the conjunction
  *
  *   abs(length(a) - length(b)) <= k AND levenshtein(a, b, k) >= 0
  *
  * which is equivalent (edit distance is bounded below by the length
  * difference, and Spark's 3-arg banded Levenshtein returns -1 exactly
  * when the distance exceeds the threshold) but costs O(1) for pairs
  * the length guard rejects and O(k·min(|a|,|b|)) — a k-wide band of
  * the matrix — for the rest. `lev < k` folds the same way with k−1.
  * Null propagation is preserved: any null operand makes both the
  * original and the rewrite null.
  *
  * Only non-negative integer-literal thresholds rewrite (a column-
  * valued threshold can't prove k ≥ 0 at plan time; banded Levenshtein
  * requires it).
  */
object BandedLevenshtein extends Rule[LogicalPlan] {
  private def banded(a: Expression, b: Expression, k: Int): Expression =
    And(
      LessThanOrEqual(Abs(Subtract(Length(a), Length(b))),
        Literal(k, IntegerType)),
      GreaterThanOrEqual(
        Levenshtein(a, b, Some(Literal(k, IntegerType))),
        Literal(0, IntegerType)))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case LessThanOrEqual(Levenshtein(a, b, None), Literal(k: Int, IntegerType))
        if k >= 0 => banded(a, b, k)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), Levenshtein(a, b, None))
        if k >= 0 => banded(a, b, k)
    case LessThan(Levenshtein(a, b, None), Literal(k: Int, IntegerType))
        if k >= 1 => banded(a, b, k - 1)
    case GreaterThan(Literal(k: Int, IntegerType), Levenshtein(a, b, None))
        if k >= 1 => banded(a, b, k - 1)
  }
}

/** SparkSessionExtensions entry point: makes the engine installable into
  * any Spark deployment via
  * `--conf spark.sql.extensions=graft.GraftExtensions` — all custom
  * functions become session builtins and the engine's optimizer rules
  * are injected, no code changes required (the standard extension-
  * library mechanism, e.g. how Delta/Iceberg register).
  *
  * Extensions only apply at session construction; [[Engine.install]]
  * installs the same table into an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(f =>
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
    GraftExtensions.optimizerRules.foreach(r => e.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(st => e.injectPlannerStrategy(_ => st))
  }
}

/** The engine's one table of SQL functions, optimizer rules and planner
  * strategies. Read by [[GraftExtensions]] (injection at session
  * construction) and by [[Engine.install]] (an existing session); nothing
  * else registers engine functions or rules.
  */
object GraftExtensions {

  /** One SQL function: its name, its DESCRIBE FUNCTION info and an
    * arity-checked builder. Instances are built once, so re-installing
    * the same entry is a no-op for the function registry.
    */
  final case class Fn(name: String, info: ExpressionInfo,
      builder: Seq[Expression] => Expression)

  private def fn(name: String, clazz: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): Fn =
    Fn(name, new ExpressionInfo(clazz.getCanonicalName, name), checked(name, arity)(build))

  val functions: Seq[Fn] = Seq(
    fn("slugify", classOf[Slugify], 1)(es => Slugify(es.head)),
    fn("extract_iso_date", classOf[ExtractIsoDate], 1)(es => ExtractIsoDate(es.head)),
    fn("fmt_month_abbrev", classOf[FmtMonthAbbrev], 1)(es => FmtMonthAbbrev(es.head)),
    fn("html_escape", classOf[HtmlEscape], 1)(es => HtmlEscape(es.head)),
    fn("clean_ws", classOf[CleanWs], 1)(es => CleanWs(es.head)),
    fn("ends_with_source", classOf[EndsWithSource], 3)(es =>
      EndsWithSource(es(0), es(1), es(2))),
    fn("stable_hash64", classOf[StableHash64], 1)(es => StableHash64(es.head)),
    fn("min_gram_hash", classOf[MinGramHash], 1)(es => MinGramHash(es.head)),
    fn("min_rolling_hash", classOf[MinRollingHash], 1)(es => MinRollingHash(es.head)),
    fn("distinct_shingles3", classOf[DistinctShingles3], 1)(es => DistinctShingles3(es.head)),
    fn("shingles2", classOf[Shingles2], 1)(es => Shingles2(es.head)),
    fn("simhash60", classOf[Simhash60], 1)(es => Simhash60(es.head)),
    fn("minhash8", classOf[Minhash8], 1)(es => Minhash8(es.head)),
    fn("token_max_run", classOf[TokenMaxRun], 1)(es => TokenMaxRun(es.head)),
    fn("token_top_count", classOf[TokenTopCount], 1)(es => TokenTopCount(es.head)),
    fn("cosine_sim", classOf[CosineSim], 2)(es => CosineSim(es(0), es(1))),
    fn("hyperplane_bucket64", classOf[HyperplaneBucket64], 1)(es =>
      HyperplaneBucket64(es.head)),
    // the sketch/top-k AGGREGATES are SQL-callable too — a SQL user of
    // the engine gets the same surface as the Column API. k arguments
    // must be foldable integer literals (resolved at plan time).
    fn("misra_gries", classOf[MisraGriesAgg], 2)(es =>
      MisraGriesAgg(es(0), sqlLitInt(es(1), "misra_gries k")).toAggregateExpression()),
    fn("count_min", classOf[CountMinAgg], 1)(es => CountMinAgg(es.head).toAggregateExpression()),
    fn("bounded_top_k", classOf[BoundedTopK], 2)(es =>
      BoundedTopK(es(0), sqlLitInt(es(1), "bounded_top_k k")).toAggregateExpression()),
    fn("union_find", classOf[UnionFindAgg], 2)(es =>
      UnionFindAgg(es(0), es(1)).toAggregateExpression()),
    fn("kmv_sample", classOf[KmvSample], 2)(es =>
      KmvSample(es(0), sqlLitInt(es(1), "kmv_sample k")).toAggregateExpression()))

  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(
    SimplifyEndsWithSource,
    BandedLevenshtein,
    // structural rewrite: interval joins -> time-bucketed layout
    // (opt-in via spark.graft.bucketIntervalJoin.enabled; see q183/q184)
    graft.plans.BucketIntervalJoin,
    graft.plans.MvRewrite,
    // probe-side predicate pushdown through the native as-of join
    graft.plans.AsofPushDown)

  /** Whole-operator extension: the native as-of join's planner strategy. */
  val strategies: Seq[SparkStrategy] = Seq(graft.plans.AsofJoinStrategy)

  /** Arity guard for SQL-registry builders: a wrong-argument-count call
    * (`SELECT misra_gries(v)`) must fail at plan time with a message
    * naming the function and the expected arity, not leak a raw
    * IndexOutOfBoundsException from `es(1)`.
    */
  private def checked(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      if (es.length != n) throw new IllegalArgumentException(
        s"Invalid number of arguments for function $name. Expected: $n; Found: ${es.length}")
      build(es)
    }

  /** Resolve a foldable integer literal argument at registration time.
    * Long values outside Int range are an error, not a silent toInt
    * truncation (misra_gries(v, 4294967297) must not become k=1).
    */
  private def sqlLitInt(e: Expression, what: String): Int = {
    def narrow(l: Long): Int =
      if (l >= Int.MinValue && l <= Int.MaxValue) l.toInt
      else throw new IllegalArgumentException(
        s"$what must fit in a 32-bit integer, got $l")
    e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => narrow(v)
      case other if other.foldable =>
        other.eval(null) match {
          case i: Int => i
          case l: Long => narrow(l)
          case v => throw new IllegalArgumentException(s"$what must be an integer literal, got $v")
        }
      case _ => throw new IllegalArgumentException(s"$what must be a foldable integer literal")
    }
  }
}
