package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.MvRewrite
import graft.sources.MatView

/** q195 — the materialized-view rewrite: matching aggregates read the
  * MV instead of the corpus (value-identical, plan-proven), every
  * refusal branch holds, and the MV artifact follows the standard
  * reuse/poison discipline.
  */
class MvRewriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")
  private val dir = "/root/testdata/sf0.001"

  private def withMv[A](f: => A): A = {
    MatView.ensureMv(spark, dir) // builds + registers the view
    val prevE = spark.conf.getOption(MvRewrite.EnabledKey)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try f finally {
      prevE.fold(spark.conf.unset(MvRewrite.EnabledKey))(
        spark.conf.set(MvRewrite.EnabledKey, _))
    }
  }

  private def docs = Engine.table(spark, dir, "documents")

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
    MvRewrite.scanLocations(df.queryExecution.optimizedPlan)
  private def readsMv(df: org.apache.spark.sql.DataFrame): Boolean =
    scans(df).exists(_.contains("/mv")) &&
      !scans(df).exists(_.contains("documents.parquet"))

  test("matching aggregate reads the MV, not the corpus, and values are identical") {
    val agg = () => docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val plainRows = agg().collect().map(_.toString).sorted.toSeq
    assert(scans(agg()).exists(_.contains("documents.parquet")))
    withMv {
      assert(readsMv(agg()), s"rewrite did not fire: ${scans(agg())}")
      val rows = agg().collect().map(_.toString).sorted.toSeq
      assert(rows == plainRows && rows.nonEmpty)
    }
  }

  test("lang-only grouping rolls the MV up a level; values identical") {
    val agg = () => docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val plainRows = agg().collect().map(_.toString).sorted.toSeq
    withMv {
      assert(readsMv(agg()))
      assert(agg().collect().map(_.toString).sorted.toSeq == plainRows)
    }
  }

  test("dimension filters carry over to the view; values identical") {
    val agg = () => docs.filter(col("lang").isin("en", "zh"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val plainRows = agg().collect().map(_.toString).sorted.toSeq
    withMv {
      assert(readsMv(agg()), s"dim-filtered aggregate must rewrite: ${scans(agg())}")
      assert(agg().collect().map(_.toString).sorted.toSeq == plainRows)
      // and the q196 surface query self-verifies + matches
      val q = graft.sources.MatView.q196MvFiltered(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      assert(q == plainRows)
    }
  }

  test("refusal branches: fact filter, unsupported aggregate, non-dimension grouping, global aggregate") {
    withMv {
      // a FACT-column filter the MV cannot see inside a group
      val filtered = docs.filter(col("n_chars") > 100)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      assert(!readsMv(filtered))
      // a mixed filter (dim AND fact) must refuse too
      val mixed = docs.filter(col("lang") === "en" && col("n_chars") > 100)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      assert(!readsMv(mixed))
      // an aggregate the MV cannot derive (a computed fact expression)
      val exprAgg = docs.groupBy(col("lang"))
        .agg(sum(col("n_chars") * 2).as("a"))
      assert(!readsMv(exprAgg))
      // ...and one over a different fact column entirely
      val otherCol = docs.groupBy(col("lang")).agg(max(col("doc_id")).as("m"))
      assert(!readsMv(otherCol))
      // distinct aggregates are not derivable from the MV
      val dist = docs.groupBy(col("lang"))
        .agg(countDistinct(col("n_chars")).as("n"))
      assert(!readsMv(dist))
      // count(col) skips nulls — not the MV's n_docs
      val countCol = docs.groupBy(col("lang")).agg(count(col("text")).as("n"))
      assert(!readsMv(countCol))
      // a grouping dimension the MV does not carry
      val byLen = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("n"))
      assert(!readsMv(byLen))
      // the global aggregate (empty-input semantics differ)
      val global = docs.agg(count(lit(1)).as("n"))
      assert(!readsMv(global))
      // and with the flag off, nothing rewrites
      spark.conf.set(MvRewrite.EnabledKey, "false")
      val plain = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      assert(!readsMv(plain))
    }
  }

  test("avg/min/max derive through the MV and are value-identical") {
    val agg = () => docs.groupBy(col("lang"))
      .agg(avg(col("n_chars")).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
    val plainRows = agg().collect().map(_.toString).sorted.toSeq
    withMv {
      assert(readsMv(agg()), s"derived rollups must rewrite: ${scans(agg())}")
      // bit-identical doubles: the MV avg is the same final division
      // over exact integer sums as the raw path's
      assert(agg().collect().map(_.toString).sorted.toSeq == plainRows)
      // min/max under a dimension filter too
      val f = () => docs.filter(col("source") === "web")
        .groupBy(col("lang")).agg(min(col("n_chars")).as("mn"))
      assert(readsMv(f()))
      assert(f().collect().map(_.toString).sorted.toSeq ==
        docs.filter(col("source") === "web").groupBy(col("lang"))
          .agg(min(col("n_chars")).as("mn"))
          .collect().map(_.toString).sorted.toSeq)
    }
    // q197 (the declared surface query) self-verifies + equals raw
    val got = MatView.q197MvRollups(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val want = docs.groupBy(col("lang"))
      .agg(round(avg(col("n_chars")), 6).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .select(col("lang"), col("avg_chars"), col("min_chars"), col("max_chars"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("q195 self-verifies the rewrite and equals the raw aggregate") {
    val got = MatView.q195MvAggregate(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want && got.nonEmpty)
    // the scoped conf never leaks
    assert(!spark.conf.getOption(MvRewrite.EnabledKey).contains("true"))
  }

  test("registry: two corpora registered in one session resolve to their own views") {
    // the registry is keyed by (session, exact source root path) — a
    // second registered corpus must answer from ITS view, never the
    // first's (the r12 substring matcher could not make this
    // distinction at all)
    val dir2 = "/root/testdata/sf0.1" // 5000 docs vs sf0.001's 500
    MatView.ensureMv(spark, dir)
    MatView.ensureMv(spark, dir2)
    val prevE = spark.conf.getOption(MvRewrite.EnabledKey)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try {
      def aggOf(d: String) = Engine.table(spark, d, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val a1 = aggOf(dir); val a2 = aggOf(dir2)
      // both rewrite, each to its own artifact root
      val s1 = scans(a1); val s2 = scans(a2)
      assert(s1.exists(_.contains("/mv")) && s2.exists(_.contains("/mv")))
      assert(s1 != s2, s"both corpora resolved to one MV: $s1 vs $s2")
      // and each answer is ITS corpus's own raw count
      val n1 = a1.agg(sum(col("n_docs"))).head().getLong(0)
      val n2 = a2.agg(sum(col("n_docs"))).head().getLong(0)
      val raw1 = Engine.table(spark, dir, "documents").count()
      val raw2 = Engine.table(spark, dir2, "documents").count()
      assert(n1 == raw1 && n2 == raw2, s"($n1,$n2) != raw ($raw1,$raw2)")
      assert(raw2 > raw1 * 3, "corpora must be distinguishable by size")
    } finally prevE.fold(spark.conf.unset(MvRewrite.EnabledKey))(
      spark.conf.set(MvRewrite.EnabledKey, _))
  }

  test("count-only second view: count rewrites, every fact aggregate refuses") {
    MatView.ensureEventsMv(spark, dir)
    val prevE = spark.conf.getOption(MvRewrite.EnabledKey)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try {
      val events = Engine.table(spark, dir, "events")
      val cnt = events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val sc = scans(cnt)
      assert(sc.exists(_.contains("mvev")) && !sc.exists(_.contains("events.parquet")),
        s"count-only view must answer the count: $sc")
      // values identical to the raw log
      assert(cnt.collect().map(_.toString).sorted.toSeq ==
        events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
          .collect().map(_.toString).sorted.toSeq)
      // a view that stores less derives less: sum/avg/min/max of the
      // DOUBLE value column all refuse (order-dependent double sums
      // are not exactly derivable — the reason this view is count-only)
      for (agg <- Seq(sum(col("value")), avg(col("value")),
          min(col("value")), max(col("value")))) {
        val q = events.groupBy(col("event_type")).agg(agg.as("x"))
        assert(scans(q).exists(_.contains("events.parquet")),
          s"fact aggregate must refuse on the count-only view: ${scans(q)}")
      }
      // the q200 surface query self-verifies + equals raw
      val got = MatView.q200MvEvents(spark, dir)
        .collect().map(_.toString).sorted.toSeq
      assert(got == events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .collect().map(_.toString).sorted.toSeq && got.nonEmpty)
    } finally prevE.fold(spark.conf.unset(MvRewrite.EnabledKey))(
      spark.conf.set(MvRewrite.EnabledKey, _))
  }

  // ---- the JOIN MV ----

  private def withJoinMv[A](f: => A): A = {
    MatView.ensureJoinMv(spark, dir)
    val prevE = spark.conf.getOption(MvRewrite.EnabledKey)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try f finally {
      prevE.fold(spark.conf.unset(MvRewrite.EnabledKey))(
        spark.conf.set(MvRewrite.EnabledKey, _))
    }
  }

  private def li = Engine.table(spark, dir, "lineitem")
  private def ord = Engine.table(spark, dir, "orders")
  private def readsJoinMv(df: org.apache.spark.sql.DataFrame): Boolean =
    scans(df).exists(_.contains("mvjoin")) &&
      !scans(df).exists(s => s.contains("lineitem.parquet") ||
        s.contains("orders.parquet"))

  test("join MV: the fact-dim aggregate reads the view, neither source; values identical") {
    val agg = () => li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
    val plainRows = agg().collect().map(_.toString).sorted.toSeq
    assert(scans(agg()).exists(_.contains("lineitem.parquet")))
    withJoinMv {
      assert(readsJoinMv(agg()), s"join rewrite did not fire: ${scans(agg())}")
      val rows = agg().collect().map(_.toString).sorted.toSeq
      assert(rows == plainRows && rows.nonEmpty)
    }
  }

  test("join MV: either side order matches; rollup + dim filter + avg derive") {
    // user writes orders on the LEFT — registry hit via the reversed order
    val agg = () => ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), avg(col("l_quantity")).as("avg_qty"))
    val plainRows = agg().collect().map(_.toString).sorted.toSeq
    withJoinMv {
      assert(readsJoinMv(agg()), s"join rewrite did not fire: ${scans(agg())}")
      assert(agg().collect().map(_.toString).sorted.toSeq == plainRows)
    }
  }

  test("join MV refusals: outer join, extra conjunct, fact filter, foreign column") {
    withJoinMv {
      def raw(df: org.apache.spark.sql.DataFrame) =
        scans(df).exists(_.contains("lineitem.parquet"))
      // LEFT OUTER: null-extended rows are not in the pre-joined view
      assert(raw(li.join(ord, col("l_orderkey") === col("o_orderkey"), "left")
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))))
      // extra join conjunct drops pairs the view counted
      assert(raw(li.join(ord, col("l_orderkey") === col("o_orderkey") &&
          col("l_quantity") > lit(10))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))))
      // fact-column predicate cannot see inside a view group
      assert(raw(li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_quantity") > 10)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))))
      // aggregate of a column the view does not store
      assert(raw(li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_extendedprice")).as("s"))))
      // grouping by a non-dimension column
      assert(raw(li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))))
    }
  }

  test("q201/q202 self-verify the join rewrite and equal the raw join") {
    val got201 = MatView.q201MvJoin(spark, dir)
      .collect().map(_.toString).toSeq
    val raw201 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
      .orderBy(col("o_orderpriority"), col("l_returnflag"))
      .collect().map(_.toString).toSeq
    assert(got201 == raw201 && got201.nonEmpty)
    val got202 = MatView.q202MvJoinFiltered(spark, dir)
      .collect().map(_.toString).toSeq
    assert(got202.nonEmpty && got202.size <= 3)
  }

  private def cust = Engine.table(spark, dir, "customer")

  test("star MV: any join order matches the set fingerprint; values identical") {
    MatView.ensureStarMv(spark, dir)
    val prevE = spark.conf.getOption(MvRewrite.EnabledKey)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try {
      def readsStar(df: org.apache.spark.sql.DataFrame): Boolean =
        scans(df).exists(_.contains("mvstar")) &&
          !scans(df).exists(s => s.contains("lineitem.parquet") ||
            s.contains("orders.parquet") || s.contains("customer.parquet"))
      // three parenthesizations / orders of the same star
      val shapes = Seq(
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey")),
        cust.join(ord, col("c_custkey") === col("o_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey")),
        ord.join(cust, col("o_custkey") === col("c_custkey"))
          .join(li, col("l_orderkey") === col("o_orderkey")))
      val aggd = shapes.map(_.groupBy(col("o_orderpriority"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sq")))
      val expected = aggd.head.collect().map(_.toString).sorted.toSeq
      aggd.foreach { q =>
        assert(readsStar(q), s"star rewrite must fire for every order: ${scans(q)}")
        assert(q.collect().map(_.toString).sorted.toSeq == expected)
      }
    } finally prevE.fold(spark.conf.unset(MvRewrite.EnabledKey))(
      spark.conf.set(MvRewrite.EnabledKey, _))
  }

  test("star MV refusals: sub-tree, superset tree, outer link, extra conjunct") {
    MatView.ensureStarMv(spark, dir)
    MatView.ensureJoinMv(spark, dir) // the 2-table pair is ALSO registered
    val prevE = spark.conf.getOption(MvRewrite.EnabledKey)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try {
      def rawFact(df: org.apache.spark.sql.DataFrame): Boolean =
        scans(df).exists(_.contains("lineitem.parquet"))
      // the li⋈ord SUB-tree resolves to the PAIR view, never the star
      val pair = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      assert(scans(pair).exists(_.contains("mvjoin")) &&
        !scans(pair).exists(_.contains("mvstar")))
      // a tree with an extra table has a fingerprint nothing registered
      val sup = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(Engine.table(spark, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      assert(rawFact(sup))
      // an outer link anywhere in the chain refuses
      assert(rawFact(li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))))
      // an extra conjunct on a chain link refuses
      assert(rawFact(li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey") &&
          col("l_quantity") > 5)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))))
    } finally prevE.fold(spark.conf.unset(MvRewrite.EnabledKey))(
      spark.conf.set(MvRewrite.EnabledKey, _))
  }

  test("mv artifact: reuse on match; edited corpus rebuilds") {
    val d = java.nio.file.Files.createTempDirectory("graft_mv_").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      java.nio.file.Paths.get(s"$d/documents.parquet"))
    def mtime(root: String): Long = {
      val p = java.nio.file.Paths.get(root)
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.getLastModifiedTime(_).toMillis)
          .foldLeft(0L)(math.max)
      }
    }
    val root = MatView.mvRoot(d)
    MatView.ensureMvValidated(spark, d)
    val built = mtime(root)
    assert(built > 0L)
    Thread.sleep(1100)
    MatView.ensureMvValidated(spark, d)
    assert(mtime(root) == built, "fresh MV was rebuilt instead of reused")
    // poison one doc (longer text → n_chars unchanged but text hash flips)
    val d0 = spark.read.parquet(s"$d/documents.parquet")
    val schema = d0.schema
    val edited = d0.withColumn("text",
      when(col("doc_id") === 1L, concat(col("text"), lit(" POISON")))
        .otherwise(col("text"))).collect()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(s"$d/documents.parquet"))
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(edited.toSeq).asJava), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    Thread.sleep(1100)
    MatView.ensureMvValidated(spark, d)
    assert(mtime(root) > built, "edited corpus did not rebuild the MV")
  }

  test("avg over NULL facts derives from the stored non-null count (ADVICE r13)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val d = java.nio.file.Files.createTempDirectory("graft_mvnull_").toString
    // facts (10, NULL, NULL) in group a: raw avg = 10.0, NOT 10/3 —
    // the exact hazard the old Σsum/Σcount(1) rollup got wrong
    Seq(("a", Some(10L)), ("a", None), ("a", None),
        ("b", Some(4L)), ("b", Some(8L)))
      .toDF("g", "v").coalesce(1).write.parquet(s"$d/tbl")
    val tbl = () => spark.read.parquet(s"$d/tbl")
    tbl().groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_facts"),
        sum(col("v")).as("sum_v"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .coalesce(1).write.parquet(s"$d/mv")
    val mvRel = spark.read.parquet(s"$d/mv").queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }.get
    val srcPaths = scans(tbl())
    MvRewrite.register(spark, srcPaths, MvRewrite.MvEntry(mvRel,
      dims = Set("g"), factCol = "v", countCol = "n_rows",
      factCountCol = "n_facts", sumCol = "sum_v",
      minCol = "min_v", maxCol = "max_v"))
    val agg = () => tbl().groupBy(col("g")).agg(avg(col("v")).as("avg_v"))
    val plain = agg().collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(plain == Map("a" -> 10.0, "b" -> 6.0))
    val prevE = spark.conf.getOption(MvRewrite.EnabledKey)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try {
      assert(scans(agg()).exists(_.contains("/mv")) &&
        !scans(agg()).exists(_.contains("/tbl")), "rewrite must fire")
      val rewritten = agg().collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(rewritten == plain,
        s"avg through the view must skip NULL facts: $rewritten != $plain")
    } finally prevE.fold(spark.conf.unset(MvRewrite.EnabledKey))(
      spark.conf.set(MvRewrite.EnabledKey, _))
  }

  test("composite-key star: every equi conjunct joins the fingerprint; non-equi residual refuses") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val d = java.nio.file.Files.createTempDirectory("graft_mvck_").toString
    // fact keyed by a COMPOSITE (k1, k2); dim unique on (d1, d2)
    Seq((1L, 1L, 5L), (1L, 2L, 7L), (2L, 1L, 11L), (1L, 1L, 3L))
      .toDF("k1", "k2", "v").coalesce(1).write.parquet(s"$d/fact")
    Seq((1L, 1L, "g1"), (1L, 2L, "g2"), (2L, 1L, "g3"))
      .toDF("d1", "d2", "grp").coalesce(1).write.parquet(s"$d/dim")
    val fact = () => spark.read.parquet(s"$d/fact")
    val dim = () => spark.read.parquet(s"$d/dim")
    def joined() = fact().join(dim(),
      col("k1") === col("d1") && col("k2") === col("d2"))
    joined().groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_v"),
        sum(col("v")).as("sum_v"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .coalesce(1).write.parquet(s"$d/mv")
    val mvRel = spark.read.parquet(s"$d/mv").queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }.get
    MvRewrite.registerStar(spark,
      paths = Set(scans(fact()), scans(dim())),
      conds = Set("k1" -> "d1", "k2" -> "d2"),
      entry = MvRewrite.MvEntry(mvRel, dims = Set("grp"), factCol = "v",
        countCol = "n_rows", factCountCol = "n_v", sumCol = "sum_v",
        minCol = "min_v", maxCol = "max_v"))
    val agg = () => joined().groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val plain = agg().collect().map(_.toString).sorted.toSeq
    val prevE = spark.conf.getOption(MvRewrite.EnabledKey)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try {
      // BOTH equi conjuncts fold into the fingerprint: the star fires
      assert(scans(agg()).exists(_.contains("/mv")) &&
        !scans(agg()).exists(_.contains("/fact")),
        s"composite-key star must rewrite: ${scans(agg())}")
      assert(agg().collect().map(_.toString).sorted.toSeq == plain)
      // a single-pair join (missing one key) is a DIFFERENT fingerprint
      val partial = fact().join(dim(), col("k1") === col("d1"))
        .groupBy(col("grp")).agg(count(lit(1)).as("n"))
      assert(scans(partial).exists(_.contains("/fact")),
        "a partial-key join must NOT match the composite registration")
      // a non-equi residual conjunct refuses structurally
      val residual = fact().join(dim(),
          col("k1") === col("d1") && col("k2") === col("d2") && col("v") > 4L)
        .groupBy(col("grp")).agg(count(lit(1)).as("n"))
      assert(scans(residual).exists(_.contains("/fact")),
        "a non-equi residual conjunct must refuse the star")
    } finally prevE.fold(spark.conf.unset(MvRewrite.EnabledKey))(
      spark.conf.set(MvRewrite.EnabledKey, _))
  }

  test("auto-register: a FRESH session answers from the MV with no ensure call; eviction retires it") {
    MatView.ensureMv(spark, dir) // artifact + sidecar exist on disk
    val s2 = spark.newSession()
    Engine.install(s2) // rule wiring, not an ensure
    assert(MatView.autoRegisterAll(s2, dir) >= 1,
      "at least the documents MV sidecar must auto-register")
    val agg = () => Engine.table(s2, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val plain = agg().collect().map(_.toString).sorted.toSeq
    s2.conf.set(MvRewrite.EnabledKey, "true")
    try {
      def scans2(df: org.apache.spark.sql.DataFrame) =
        MvRewrite.scanLocations(df.queryExecution.optimizedPlan)
      assert(scans2(agg()).exists(_.contains("/mv")) &&
        !scans2(agg()).exists(_.contains("documents.parquet")),
        s"fresh session must answer from the auto-registered MV: ${scans2(agg())}")
      assert(agg().collect().map(_.toString).sorted.toSeq == plain)
      // evicting the session retires its registrations (and only its
      // own — the suite session keeps answering from its view)
      MvRewrite.evictSession(s2)
      assert(scans2(agg()).exists(_.contains("documents.parquet")),
        "evicted session must fall back to the corpus scan")
      withMv {
        val ownAgg = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        assert(readsMv(ownAgg), "eviction must not touch other sessions' entries")
      }
    } finally s2.conf.unset(MvRewrite.EnabledKey)
  }
}
