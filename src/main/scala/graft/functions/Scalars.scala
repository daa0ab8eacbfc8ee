package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst `Expression`s for the reference's five custom scalar
  * functions (SURVEY.md §2B "Scalar fns", ops 12-18 in §2A). Native
  * expressions, not UDFs: `doGenCode` emits a static call into
  * [[ScalarOps]], so they participate in whole-stage codegen with no
  * closure serialization or boxing beyond UTF8String↔String.
  */
abstract class StringUnaryOp extends UnaryExpression {
  /** Name of the static method on ScalarOps (UTF8String → UTF8String). */
  def staticName: String
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = evalU(v.asInstanceOf[UTF8String])
  def evalU(s: UTF8String): UTF8String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScalarOps.$staticName($c)")
}

/** `slugify(s)` — ref fetchRumors.js:33-38. */
case class Slugify(child: Expression) extends StringUnaryOp {
  override def staticName: String = "slugifyU"
  override def evalU(s: UTF8String): UTF8String = ScalarOps.slugifyU(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "slugify"
}

/** `extract_iso_date(s)` — ref fetchRumors.js:41-50. */
case class ExtractIsoDate(child: Expression) extends StringUnaryOp {
  override def staticName: String = "extractIsoDateU"
  override def evalU(s: UTF8String): UTF8String = ScalarOps.extractIsoDateU(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "extract_iso_date"
}

/** `fmt_month_abbrev(s)` — ref fetchRumors.js:153-159. */
case class FmtMonthAbbrev(child: Expression) extends StringUnaryOp {
  override def staticName: String = "fmtMonthAbbrevU"
  override def evalU(s: UTF8String): UTF8String = ScalarOps.fmtMonthAbbrevU(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "fmt_month_abbrev"
}

/** `html_escape(s)` — ref index.html:49. */
case class HtmlEscape(child: Expression) extends StringUnaryOp {
  override def staticName: String = "htmlEscapeU"
  override def evalU(s: UTF8String): UTF8String = ScalarOps.htmlEscapeU(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "html_escape"
}

/** `clean(s)` whitespace-normalize — ref fetchRumors.js:32. */
case class CleanWs(child: Expression) extends StringUnaryOp {
  override def staticName: String = "cleanU"
  override def evalU(s: UTF8String): UTF8String = ScalarOps.cleanU(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "clean_ws"
}

/** 60-bit md5-prefix stable hash (see ScalarOps.stableHash64) — the
  * engine's portable hash for MinHash/SimHash/fingerprints; equals
  * `cast(conv(substring(md5(s),1,15),16,10) as bigint)` but in one
  * codegen'd call instead of a 4-deep interpreted chain.
  */
case class StableHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(v: Any): Any =
    ScalarOps.stableHash64U(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScalarOps.stableHash64U($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "stable_hash64"
}

/** `min_gram_hash(s)` — minimum stable_hash64 over all 8-char windows
  * (winnowing-style fingerprint). Codegen'd: the ~n-window loop runs as
  * one static call inside whole-stage codegen instead of an interpreted
  * HOF (~100× cheaper) or a typed mapPartitions (which would break the
  * codegen stage with an encoder boundary).
  */
case class MinGramHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(v: Any): Any =
    ScalarOps.minGramHashU(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScalarOps.minGramHashU($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "min_gram_hash"
}

/** `min_rolling_hash(s)` — minimum Rabin-Karp rolling hash over 8-char
  * windows, O(1) per step (see ScalarOps.minRollingHash). Codegen'd.
  */
case class MinRollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(v: Any): Any =
    ScalarOps.minRollingHashU(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScalarOps.minRollingHashU($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "min_rolling_hash"
}

/** `distinct_shingles3(tok)` — distinct 3-word shingles of a token
  * array in first-occurrence order. Codegen'd replacement for the
  * interpreted transform(sequence(...), ...) HOF chain (and for a typed
  * flatMap, which would break whole-stage codegen).
  */
case class DistinctShingles3(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ScalarOps.distinctShingles3(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScalarOps.distinctShingles3($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "distinct_shingles3"
}

/** `shingles2(tok)` — ordered 2-word shingles WITH duplicates
  * (multiplicities feed LM bigram counts). Codegen'd.
  */
case class Shingles2(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ScalarOps.shingles2(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScalarOps.shingles2($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "shingles2"
}

/** `simhash60(tok)` — 60-bit SimHash of a token array (see
  * ScalarOps.simhash60). SimHash is per-document state, so the whole
  * signature computes map-side in one codegen'd call — no explode, no
  * shuffle — while remaining bit-identical to the exploded two-level
  * aggregation formulation the DuckDB oracle uses.
  */
case class Simhash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(v: Any): Any =
    ScalarOps.simhash60(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScalarOps.simhash60($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "simhash60"
}

/** `minhash8(sh)` — 8-permutation MinHash signature of a shingle array
  * in one codegen'd pass (vs 8 interpreted transform+array_min HOFs).
  */
case class Minhash8(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType,
      containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ScalarOps.minhash8(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScalarOps.minhash8($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "minhash8"
}

/** `token_max_run(tok)` — longest identical-consecutive-token run
  * (Gopher-style repetition signal). Codegen'd one-pass loop.
  */
case class TokenMaxRun(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(v: Any): Any =
    ScalarOps.tokenMaxRun(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScalarOps.tokenMaxRun($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "token_max_run"
}

/** `token_top_count(tok)` — occurrence count of the most frequent token
  * (top-token-fraction numerator). Codegen'd one-pass loop.
  */
case class TokenTopCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(v: Any): Any =
    ScalarOps.tokenTopCount(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScalarOps.tokenTopCount($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "token_top_count"
}

/** `cosine_sim(a, b)` — cosine similarity of two float/double arrays,
  * bit-identical to the sequential aggregate() folds it replaces (see
  * ScalarOps.cosine). Rounding to 6dp stays OUTSIDE (Spark's round), so
  * cross-engine rank discipline is unchanged.
  */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, FloatType}
  private def isF(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ScalarOps.cosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isF(left), isF(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ScalarOps.cosine($a, $b, ${isF(left)}, ${isF(right)})")
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression): Expression = copy(a, b)
  override def prettyName: String = "cosine_sim"
}

/** `hyperplane_bucket64(emb)` — 8-hyperplane LSH sign bucket with the
  * deterministic hash-derived weights precomputed once per JVM (the HOF
  * form re-derived 512 hashes per row, interpreted).
  */
case class HyperplaneBucket64(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, FloatType}
  private def isF: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullSafeEval(v: Any): Any =
    ScalarOps.hyperplaneBucket64(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isF)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScalarOps.hyperplaneBucket64($c, $isF)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "hyperplane_bucket64"
}

/** `ends_with_source(snippet_html, url, source_name)` — ref
  * fetchRumors.js:162-172 (`bodyAlreadyHasSource`).
  */
case class EndsWithSource(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(s: Any, u: Any, n: Any): Any =
    ScalarOps.endsWithSourceU(
      s.asInstanceOf[UTF8String], u.asInstanceOf[UTF8String], n.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.ScalarOps.endsWithSourceU($a, $b, $c)")
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): Expression = copy(a, b, c)
  override def prettyName: String = "ends_with_source"
}

/** Column-API surface for the custom scalars (the SQL names live in
  * [[graft.GraftExtensions.functions]]).
  */
object Scalars {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  def slugify(c: Column): Column = col(Slugify(ex(c)))
  def extract_iso_date(c: Column): Column = col(ExtractIsoDate(ex(c)))
  def fmt_month_abbrev(c: Column): Column = col(FmtMonthAbbrev(ex(c)))
  def html_escape(c: Column): Column = col(HtmlEscape(ex(c)))
  def clean_ws(c: Column): Column = col(CleanWs(ex(c)))
  def ends_with_source(snippet: Column, url: Column, name: Column): Column =
    col(EndsWithSource(ex(snippet), ex(url), ex(name)))
  def stable_hash64(c: Column): Column = col(StableHash64(ex(c)))
  def min_gram_hash(c: Column): Column = col(MinGramHash(ex(c)))
  def min_rolling_hash(c: Column): Column = col(MinRollingHash(ex(c)))
  def distinct_shingles3(c: Column): Column = col(DistinctShingles3(ex(c)))
  def shingles2(c: Column): Column = col(Shingles2(ex(c)))
  def simhash60(c: Column): Column = col(Simhash60(ex(c)))
  def minhash8(c: Column): Column = col(Minhash8(ex(c)))
  def token_max_run(c: Column): Column = col(TokenMaxRun(ex(c)))
  def token_top_count(c: Column): Column = col(TokenTopCount(ex(c)))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSim(ex(a), ex(b)))
  def hyperplane_bucket64(c: Column): Column = col(HyperplaneBucket64(ex(c)))
}
