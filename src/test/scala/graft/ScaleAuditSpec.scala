package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BinaryComparison, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Fleet-wide physical-plan audit over EVERY declared query — the
  * 100 TB failure modes that value checks can't see:
  *
  *  - a CartesianProduct (all-pairs blowup) anywhere a real join was
  *    intended;
  *  - a GLOBAL window (empty partitionSpec ⇒ every row through ONE
  *    task) over anything that scales with the corpus.
  *
  * Both have legitimate bounded uses, so the audit is
  * whitelist-driven: each exemption names the bound that keeps the
  * pattern safe at scale (the same justification the query's scaladoc
  * carries). A NEW query that trips the audit must either fix its plan
  * or document-and-whitelist — silent regressions are the thing this
  * spec exists to catch.
  */
class ScaleAuditSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  /** Flatten an (adaptive) plan to all nodes. Recurse into the AQE
    * node's INITIAL plan (via executedPlan, which before execution is
    * the initial plan), not inputPlan: under AQE, EnsureRequirements
    * runs inside AdaptiveSparkPlanExec, so inputPlan has no
    * ShuffleExchange nodes yet and the shuffle-budget audit would
    * count zero everywhere.
    */
  private def wholePlan(p: SparkPlan): Seq[SparkPlan] =
    p.collect {
      case a: AdaptiveSparkPlanExec => wholePlan(a.executedPlan)
      case other => Seq(other)
    }.flatten

  /** Queries allowed a CartesianProduct: q08 IS the cross-join
    * operator demo (25×5 dimension rows).
    */
  private val cartesianOk = Set("q08_cross_join")

  /** Queries allowed a global (unpartitioned) window, each with the
    * bound that keeps the single task small at ANY corpus size:
    * rank-select cumulative windows run over bounded DISTINCT domains
    * (2–4 dp score/value buckets, file stats = corpus/64, chunk
    * offsets = corpus/G, band buckets), and q131's ntiles run over the
    * customer-sized RFM aggregate.
    */
  private val globalWindowOk = Set(
    "q36_percentiles",    // distinct 2-dp value domain
    "q64_sequence_packing", // chunk offsets: corpus/G rows
    "q68_mixture_weights",  // per-language aggregate: |langs| rows
    "q71_perplexity_buckets", // distinct rounded-score domain
    "q90_quantile_norm",  // (source, 4-dp bucket) domain
    "q105_weighted_sample", // distinct rounded-key domain
    "q120_winsorize",     // distinct 2-dp value domain
    "q131_rfm_segments",  // customer-sized aggregate
    "q133_compaction_plan", // file stats: corpus/64 rows
    "q135_sampled_quantiles", // distinct 2-dp value domain
    "q163_ks_test",       // ECDF over distinct n_chars values: bounded
                          // by max document length, not corpus rows
    "q164_survival",      // KM curve over distinct lifetime DAYS:
                          // bounded by the observation span
    "q172_bootstrap_ci",  // full-corpus ECDF over the distinct n_chars
                          // domain (q163's bound) + a rank over exactly
                          // B=64 replica medians
    "q175_hybrid_rrf")    // rank windows over the two top-K retriever
                          // outputs and their <=2K-row fusion — all
                          // limit-bounded before the window runs

  /** The plan forest of every declared query, computed once and shared
    * by all audits (planning the 136-query fleet dominates the suite's
    * cost; three audits over one forest beat three plannings).
    */
  private lazy val fleet: Seq[(String, Seq[SparkPlan])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      val before = spark.conf.getAll
      val plan =
        try q(spark, dir).queryExecution.executedPlan
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      val after = spark.conf.getAll
      (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k) && !sessionConfOk(k))
        .foreach(k => confLeaks += s"$name: $k ${before.get(k)} -> ${after.get(k)}")
      name -> wholePlan(plan)
    }

  /** Session conf a query may leave behind: only the snapshot catalog's
    * registration (`SnapshotStore.catalogName`), which every SQL route
    * into the store sets to the same constant values, so it reads the
    * same whichever query set it first.
    */
  private val sessionConfOk =
    Set("spark.sql.catalog.graft_snap", "spark.sql.catalog.graft_snap.base")

  /** Filled while `fleet` builds: one line per conf key a query's
    * construction or planning changed.
    */
  private val confLeaks = scala.collection.mutable.ArrayBuffer.empty[String]

  test("no query's construction or planning leaves session conf behind") {
    assert(fleet.nonEmpty)
    assert(confLeaks.isEmpty, s"session conf leaks:\n${confLeaks.mkString("\n")}")
  }

  test("no query plans a CartesianProduct or an unbounded global window") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    fleet.foreach { case (name, nodes) =>
      val cartesian = nodes.exists(_.isInstanceOf[CartesianProductExec])
      if (cartesian && !cartesianOk(name))
        offenders += s"$name: CartesianProduct"
      val globalWindows = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (globalWindows.nonEmpty && !globalWindowOk(name))
        offenders += s"$name: global window (${globalWindows.size})"
    }
    assert(offenders.isEmpty,
      s"scale audit violations:\n${offenders.mkString("\n")}")
  }

  /** A scan whose remaining dataFilters include a plain
    * attribute-vs-literal comparison (the pushable shape) but whose
    * PushedFilters metadata is empty lost its pushdown — at 100 TB
    * that is the difference between reading row groups and reading the
    * corpus. Filters parquet can't evaluate (arithmetic, custom
    * expressions, UDF-derived columns) don't count as pushable, so
    * this flags only genuine losses.
    */
  test("every scan filtered on a base column pushes at least one filter") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    fleet.foreach { case (name, nodes) =>
      nodes.collect { case sc: FileSourceScanExec => sc }.foreach { sc =>
        // TOP-LEVEL conjuncts only (dataFilters is already split): a
        // pushable comparison buried inside CASE/arithmetic does not
        // make the enclosing predicate pushable
        val pushableShape = sc.dataFilters.exists {
          case BinaryComparison(_: AttributeReference, _: Literal) => true
          case BinaryComparison(_: Literal, _: AttributeReference) => true
          case _ => false
        }
        val pushedNonEmpty =
          sc.metadata.get("PushedFilters").exists(v => v != "[]" && v.nonEmpty)
        if (pushableShape && !pushedNonEmpty)
          offenders += s"$name: un-pushed filter on scan ${sc.tableIdentifier
              .map(_.toString).getOrElse(sc.relation.location.rootPaths.mkString(","))}"
      }
    }
    assert(offenders.isEmpty,
      s"pushdown audit violations:\n${offenders.distinct.mkString("\n")}")
  }

  /** region (5 rows) and nation (25 rows) are FIXED-cardinality
    * dimension tables — they never grow with SF, so a shuffle join
    * against them is wrong at every scale (the fact side pays a full
    * shuffle to co-locate with 25 rows). The static planner should
    * already broadcast them from parquet stats; this audit catches a
    * future barrier (repartition, hint, union) silently demoting one
    * to a sort-merge/shuffled-hash join.
    */
  test("no shuffle join against a fixed-cardinality dimension table") {
    val fixedDims = Set("region.parquet", "nation.parquet")
    def scanPaths(p: SparkPlan): Seq[String] = p.collect {
      case sc: FileSourceScanExec =>
        sc.relation.location.rootPaths.map(_.getName)
    }.flatten
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    fleet.foreach { case (name, nodes) =>
      val shuffleJoinSides = nodes.flatMap {
        case j: SortMergeJoinExec => Seq(("SortMergeJoin", j.left), ("SortMergeJoin", j.right))
        case j: ShuffledHashJoinExec => Seq(("ShuffledHashJoin", j.left), ("ShuffledHashJoin", j.right))
        case _ => Nil
      }
      shuffleJoinSides.foreach { case (kind, side) =>
        val paths = scanPaths(side)
        if (paths.nonEmpty && paths.forall(fixedDims))
          offenders += s"$name: $kind against ${paths.distinct.mkString(",")}"
      }
    }
    assert(offenders.isEmpty,
      s"broadcast audit violations:\n${offenders.distinct.mkString("\n")}")
  }

  /** VERDICT r7 item 3: the audits above catch KINDS of bad plans; they
    * cannot catch a refactor that adds one more full shuffle to an
    * otherwise-correct shape. Every query's ShuffleExchange count is
    * therefore pinned in a committed budget table
    * (src/test/resources/shuffle_budget.tsv). A query planning MORE
    * exchanges than budgeted fails here and must either fix the plan or
    * raise its budget in the same commit — a reviewed justification. A
    * query planning FEWER must lower its budget so the win is kept.
    * Counts are the AQE INITIAL plan's (pre-runtime-conversion — the
    * number Catalyst asks for, stable across data sizes); AQE may
    * convert some to broadcasts at runtime, so the budget is an upper
    * bound on real shuffles, exactly what a regression gate needs.
    */
  test("per-query shuffle-exchange counts stay within the committed budget") {
    val actual: Seq[(String, Int)] = fleet.map { case (name, nodes) =>
      name -> nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    }
    val budgetFile = new java.io.File("src/test/resources/shuffle_budget.tsv")
    val budget: Map[String, Int] =
      if (!budgetFile.exists()) Map.empty
      else scala.io.Source.fromFile(budgetFile, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(n, c) = l.split("\t"); n -> c.toInt }.toMap
    val table = actual.map { case (n, c) => s"$n\t$c" }.mkString("\n")
    val exceeded = actual.collect {
      case (n, c) if budget.get(n).exists(c > _) => s"$n: $c > budget ${budget(n)}"
      case (n, c) if !budget.contains(n) => s"$n: $c (no budget entry)"
    }
    val stale = actual.collect {
      case (n, c) if budget.get(n).exists(c < _) =>
        s"$n: $c < budget ${budget(n)} (improvement — lower the budget)"
    }
    assert(exceeded.isEmpty && stale.isEmpty,
      s"""shuffle-budget audit violations:
         |${(exceeded ++ stale).mkString("\n")}
         |
         |current counts (paste into src/test/resources/shuffle_budget.tsv):
         |$table""".stripMargin)
  }
}
