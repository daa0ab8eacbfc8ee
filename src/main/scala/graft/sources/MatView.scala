package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine.MaterializeSyntax

/** Materialized view over the documents corpus — the precomputed
  * per-(lang, source) aggregate table [[graft.plans.MvRewrite]]
  * substitutes for corpus scans.
  *
  * q106 proved incremental maintenance of such a view (stored
  * aggregate + CDC deltas == full recompute); this store adds the
  * OTHER half a warehouse needs: the view as a signature-validated
  * standing artifact, and an optimizer that REWRITES matching queries
  * to read it. The MV holds exact longs (counts and integer sums), so
  * every derivable rollup is exact — which is why q195's raw-table
  * DuckDB oracle stays hash-green over the rewritten path.
  */
object MatView {

  /** MV layout version, folded into the signature. Bumped to 3 when
    * the stored view gained the non-null fact count `n_facts` (what a
    * rewritten avg must divide by — ADVICE r13 medium) and the
    * persisted registration sidecar (every older stored MV
    * invalidates and rebuilds once).
    */
  private val MvLayout = 3L

  private[graft] def mvRoot(dir: String): String =
    StandingIndex.artifactRoot(dir, "mv")

  /** Each view family's input tables and layout version, keyed by its
    * root: what `ensure*` builds against and [[autoRegisterAll]]
    * checks.
    */
  private def inputs(dir: String): Map[String, (Seq[String], Long)] = Map(
    mvRoot(dir) -> (Seq("documents"), MvLayout),
    evRoot(dir) -> (Seq("events"), EvLayout),
    jmRoot(dir) -> (Seq("lineitem", "orders"), JmLayout),
    stRoot(dir) -> (Seq("lineitem", "orders", "customer"), StLayout))

  /** [[StandingIndex.refresh]] the view at `root` against its inputs. */
  private def refreshView(s: SparkSession, dir: String, root: String)(
      build: => Unit): Unit = {
    val (tables, layout) = inputs(dir)(root)
    StandingIndex.refresh(s, root, StandingIndex.inputSig(s, dir, tables, layout))(build)
  }

  // ---- persisted registration: the sidecar a fresh session reads ----

  /** Persist an MV's REGISTRATION METADATA next to its artifact — the
    * (kind, source path groups, join conds, dims, rollup column names)
    * tuple [[registerFrom]] needs to re-register the view in a session
    * that never ran the build (VERDICT r13 item 5: registrations used
    * to live only in the in-memory registry, so a new session writing
    * a plain aggregate scanned the corpus even though a fresh MV sat
    * on disk). One metadata row, written with the artifact.
    */
  private def writeReg(s: SparkSession, root: String, kind: String,
      paths: Seq[Seq[String]], conds: Seq[(String, String)],
      dims: Seq[String], factCol: String, countCol: String,
      factCountCol: String, sumCol: String, minCol: String,
      maxCol: String): Unit = {
    import s.implicits._
    Seq((kind, paths.map(_.toSeq), conds.map(_._1), conds.map(_._2), dims,
      factCol, countCol, factCountCol, sumCol, minCol, maxCol))
      .toDF("kind", "paths", "conds_l", "conds_r", "dims", "fact_col",
        "count_col", "fact_count_col", "sum_col", "min_col", "max_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/reg")
  }

  /** Register the view at `root` from its persisted sidecar — the ONE
    * registration path both the build and [[autoRegisterAll]] use.
    * Caches the analyzed MV relation exactly as before; `kind` decides
    * the scan vs star registry.
    */
  private[graft] def registerFrom(s: SparkSession, root: String): Unit = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import graft.plans.MvRewrite
    val r = s.read.parquet(s"$root/reg").head()
    val mvRel = s.read.parquet(s"$root/mv").queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }
      .getOrElse(throw new IllegalStateException(
        s"MV at $root/mv did not analyze to a file relation"))
    // array columns come back as mutable ArraySeqs — normalize first
    def strs(name: String): Seq[String] =
      r.getAs[scala.collection.Seq[String]](name).toSeq
    val entry = MvRewrite.MvEntry(mvRel,
      dims = strs("dims").toSet,
      factCol = r.getAs[String]("fact_col"),
      countCol = r.getAs[String]("count_col"),
      factCountCol = r.getAs[String]("fact_count_col"),
      sumCol = r.getAs[String]("sum_col"),
      minCol = r.getAs[String]("min_col"),
      maxCol = r.getAs[String]("max_col"))
    val paths = r.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("paths")
      .map(_.toSeq).toSeq
    r.getAs[String]("kind") match {
      case "scan" => MvRewrite.register(s, paths.head, entry)
      case "star" => MvRewrite.registerStar(s, paths.toSet,
        strs("conds_l").zip(strs("conds_r")).toSet, entry)
    }
  }

  /** AUTO-REGISTER every persisted, SIGNATURE-FRESH view for this
    * session — the step that lets a brand-new session answer q195's
    * aggregate from the MV without any `ensure*` having run in it:
    * each family's sidecar is read, its artifact validated against the
    * CURRENT source signature (the same content check `ensure` runs —
    * a stale artifact is skipped, never registered), and the fresh
    * ones registered. No build ever happens here. Returns how many
    * views registered.
    */
  def autoRegisterAll(s: SparkSession, dir: String): Int =
    inputs(dir).count { case (root, (tables, layout)) =>
      val p = new org.apache.hadoop.fs.Path(s"$root/reg")
      val exists = p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
      val fresh = exists && StandingIndex.metaFresh(s, root,
        StandingIndex.inputSig(s, dir, tables, layout))
      if (fresh) registerFrom(s, root)
      fresh
    }

  /** Make the MV available and REGISTER it with the rewrite rule —
    * reuse on a matching corpus signature. Returns the MV parquet
    * path. Registration caches the analyzed MV relation under the
    * calling session + the source scan's exact root path (the
    * MvRewrite registry), so the optimizer never re-reads the view
    * and a multi-session JVM can't cross sessions (ADVICE r12).
    */
  def ensureMv(s: SparkSession, dir: String): String = {
    val root = StandingIndex.ensureArtifact(s, mvRoot(dir)) {
      ensureMvValidated(s, dir)
      registerRewrite(s, dir)
    }
    s"$root/mv"
  }

  /** Cache + register the analyzed MV relation for [[MvRewrite]]:
    * dims (lang, source); fact n_chars; stored rollups n_docs /
    * n_facts / sum_chars / min_chars / max_chars. Registration goes
    * through the PERSISTED sidecar ([[writeReg]] + [[registerFrom]]):
    * the metadata a fresh session needs to re-register without
    * rebuilding lives next to the artifact, so auto-registration and
    * the ensure path are one code path (VERDICT r13 item 5).
    */
  private[graft] def registerRewrite(s: SparkSession, dir: String): Unit = {
    writeReg(s, mvRoot(dir), kind = "scan",
      paths = Seq(sourcePaths(s, dir, "documents")), conds = Nil,
      dims = Seq("lang", "source"), factCol = "n_chars",
      countCol = "n_docs", factCountCol = "n_facts", sumCol = "sum_chars",
      minCol = "min_chars", maxCol = "max_chars")
    registerFrom(s, mvRoot(dir))
  }

  /** The MV's aggregate shape over any documents-shaped frame — ONE
    * definition serves the stored build, the streaming maintenance
    * twin's per-batch partial, and StreamingMvSpec's recompute
    * baseline, so the three can never drift.
    */
  def mvAggregate(df: DataFrame): DataFrame =
    df.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), count(col("n_chars")).as("n_facts"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))

  /** Fold one INSERT-ONLY micro-batch of documents into a maintained
    * MV — the STREAMING MAINTENANCE TWIN of the stored artifact
    * (VERDICT r12 item 8, completing the artifact-twin matrix): the
    * batch's partial aggregate unions with the standing view and
    * re-aggregates with the rollup algebra the rewrite itself relies
    * on (counts and sums roll up by summation, extrema by min/max) —
    * so maintained == recomputed after every batch, which
    * StreamingMvSpec pins through a foreachBatch loop. Insert-only by
    * design: under DELETES the stored min/max are not incrementally
    * maintainable (a deleted extremum forces re-aggregating its
    * group); the count/sum-only delete path is q106's incremental
    * view. Scale shape: the standing side is |dims| rows, the batch
    * side aggregates map-side before the union — the fold never
    * rescans the corpus.
    */
  def foldMvBatch(stored: DataFrame, batch: DataFrame): DataFrame =
    stored.unionByName(mvAggregate(batch))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_facts")).as("n_facts"),
        sum(col("sum_chars")).as("sum_chars"),
        min(col("min_chars")).as("min_chars"),
        max(col("max_chars")).as("max_chars"))

  /** The validation+build step a NEW session runs (spec hook). */
  private[graft] def ensureMvValidated(s: SparkSession, dir: String): Unit =
    refreshView(s, dir, mvRoot(dir)) {
      mvAggregate(graft.Engine.table(s, dir, "documents"))
        .coalesce(1).write.mode("overwrite").parquet(s"${mvRoot(dir)}/mv")
    }

  /** q195: a MATERIALIZED-VIEW-ANSWERED aggregate — per-language doc
    * counts and char sums, written as the natural corpus aggregate and
    * executed from the MV: the rule swaps the documents scan for the
    * |langs|×|sources|-row view and rolls the stored partial sums up
    * (count→Σn_docs, sum→Σsum_chars). The `require` self-verifies the
    * rewrite FIRED (the optimized plan reads the MV, not the corpus) —
    * a silently-disabled rule cannot pass as success — and the result
    * is materialized under the scoped conf so the flag never leaks
    * into other queries' optimizations in a shared session. Oracle =
    * the verbatim raw-table SQL: the MV path is exact arithmetic, so
    * answered-from-view == computed-from-corpus, hash-identical.
    */
  val q195MvAggregate: (SparkSession, String) => DataFrame = (s, dir) =>
    withMvRewrite(s, dir) {
      graft.Engine.table(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }.orderBy(col("lang"))

  /** Shared scoped-conf wrapper for the MV queries: flags restored
    * however the body exits, result materialized UNDER the flags so they
    * never leak into other queries' optimizations. `mustScan`/`mustNotScan`
    * are the self-check tokens (the rewrite FIRED: plan reads the
    * view, not the corpus).
    */
  private def withRewrite(s: SparkSession, ensure: => Unit,
      mustScan: String, mustNotScan: String)(
      body: => DataFrame): DataFrame = {
    import graft.plans.MvRewrite
    ensure
    val prevEnabled = s.conf.getOption(MvRewrite.EnabledKey)
    s.conf.set(MvRewrite.EnabledKey, "true")
    try {
      val agg = body
      val scans = MvRewrite.scanLocations(agg.queryExecution.optimizedPlan)
      require(scans.exists(_.contains(mustScan)) &&
        !scans.exists(_.contains(mustNotScan)),
        s"MV rewrite did not fire — the plan still scans the corpus: $scans")
      agg.materialize()
    } finally {
      prevEnabled match {
        case Some(v) => s.conf.set(MvRewrite.EnabledKey, v)
        case None => s.conf.unset(MvRewrite.EnabledKey)
      }
    }
  }

  private def withMvRewrite(s: SparkSession, dir: String)(
      body: => DataFrame): DataFrame =
    withRewrite(s, ensureMv(s, dir), "/mv", "documents.parquet")(body)

  /** The scoped-conf + fired-rewrite-checked runner for OTHER modules'
    * MV-answered queries (the caller has already ensured + registered
    * its view — q218's snapshot MV).
    */
  def withRewriteChecked(s: SparkSession, mustScan: String,
      mustNotScan: String)(body: => DataFrame): DataFrame =
    withRewrite(s, (), mustScan, mustNotScan)(body)

  /** q196: the rewrite under a DIMENSION FILTER — a whole-group
    * predicate (`lang IN ('en','zh')`) commutes with the rollup, so
    * the rule carries it over to the view and the filtered per-source
    * aggregate is still answered from the |langs|×|sources|-row table.
    * Any fact-column predicate refuses instead (MvRewriteSpec pins
    * both directions). Same self-check + scoped-conf discipline as
    * q195; oracle = the verbatim filtered raw-table SQL.
    */
  val q196MvFiltered: (SparkSession, String) => DataFrame = (s, dir) =>
    withMvRewrite(s, dir) {
      graft.Engine.table(s, dir, "documents")
        .filter(col("lang").isin("en", "zh"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }.orderBy(col("source"))

  /** q197: DERIVED rollups through the MV — `avg`/`min`/`max` of the
    * fact column answered from the view (VERDICT r12 item 4): min/max
    * roll up by min/max over the stored per-group extrema, and avg
    * derives as Σsum_chars / Σn_docs — exact, because both operands
    * are exact longs and the raw path's double partial sums are
    * integer-valued and far below 2^53, so the one final division is
    * IEEE-identical on both paths (rounded 6 dp ABOVE the aggregate
    * for oracle parity — the rounding Project sits outside the
    * rewrite-matched shape). Same self-check + scoped-conf discipline;
    * oracle = the verbatim raw-table SQL.
    */
  val q197MvRollups: (SparkSession, String) => DataFrame = (s, dir) =>
    withMvRewrite(s, dir) {
      graft.Engine.table(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(avg(col("n_chars")).as("avg_raw"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }.select(col("lang"), round(col("avg_raw"), 6).as("avg_chars"),
        col("min_chars"), col("max_chars"))
      .orderBy(col("lang"))

  // ---- a SECOND registered view, count-only, over a second table ----

  /** Events-MV layout version. Bumped to 2 for the persisted
    * registration sidecar.
    */
  private val EvLayout = 2L

  private[graft] def evRoot(dir: String): String =
    StandingIndex.artifactRoot(dir, "mvev")

  /** A COUNT-ONLY materialized view over a SECOND table — per
    * event_type counts on events. Proves the MvRewrite registry is a
    * registry: two heterogeneous views (different source table,
    * different dims, no fact column at all) coexist in one session,
    * each matching only its own exact source path. The entry's fact /
    * sum / min / max columns are the reserved non-column `__none`, so
    * every fact-derived aggregate refuses structurally and only
    * `count(1)` rewrites — a view storing less derives less, with no
    * rule changes. (The fixture `value` column is a DOUBLE, whose sum
    * is order-dependent — NOT exactly derivable from a stored partial
    * — which is precisely why this view must be count-only.)
    */
  def ensureEventsMv(s: SparkSession, dir: String): String = {
    val root = evRoot(dir)
    StandingIndex.ensureArtifact(s, root) {
      refreshView(s, dir, root) {
        graft.Engine.table(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/mv")
      }
      // register: cached analyzed relation, exact source path, count-only
      import graft.plans.MvRewrite
      writeReg(s, root, kind = "scan",
        paths = Seq(sourcePaths(s, dir, "events")), conds = Nil,
        dims = Seq("event_type"), factCol = MvRewrite.NoCol,
        countCol = "n_rows", factCountCol = MvRewrite.NoCol,
        sumCol = MvRewrite.NoCol, minCol = MvRewrite.NoCol,
        maxCol = MvRewrite.NoCol)
      registerFrom(s, root)
    }
    s"$root/mv"
  }

  /** q200: the count-only second view ANSWERING — per-type event
    * counts from the |event_types|-row view instead of the event log.
    * The interesting part is what it proves about the registry (see
    * [[ensureEventsMv]]); the self-check + scoped conf + verbatim
    * raw-table oracle discipline is q195's.
    */
  val q200MvEvents: (SparkSession, String) => DataFrame = (s, dir) =>
    withRewrite(s, ensureEventsMv(s, dir), "mvev", "events.parquet") {
      graft.Engine.table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    }.orderBy(col("event_type"))

  // ---- a JOIN MV: aggregates over (lineitem ⋈ orders) pre-joined ----

  /** Join-MV layout version. Bumped to 2 for the non-null fact count
    * column and the persisted registration sidecar.
    */
  private val JmLayout = 2L

  private[graft] def jmRoot(dir: String): String =
    StandingIndex.artifactRoot(dir, "mvjoin")

  private def sourcePaths(s: SparkSession, dir: String, table: String): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    graft.Engine.table(s, dir, table).queryExecution.analyzed
      .collect { case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
      }.flatten
  }

  /** The join MV's aggregate shape: the (lineitem ⋈ orders) inner
    * equi-join pre-aggregated per (o_orderpriority, l_returnflag) —
    * a dim from EACH side, ~15 rows. `l_quantity` is integer-valued
    * (1–50), so its double sums are exact in any order and every
    * rollup through the view is hash-identical to the raw join.
    */
  /** The join MV's aggregate shape over ANY (fact frame, dim frame)
    * pair — one definition serves the stored build, the streaming
    * twin's per-batch partial, and the spec's recompute baseline.
    */
  def jmAggregateOf(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), count(col("l_quantity")).as("n_qty"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))

  private def jmAggregate(s: SparkSession, dir: String): DataFrame =
    jmAggregateOf(graft.Engine.table(s, dir, "lineitem"),
      graft.Engine.table(s, dir, "orders"))

  /** Fold one INSERT-ONLY micro-batch of FACT rows into a maintained
    * JOIN view — incremental view maintenance one notch up from
    * [[foldMvBatch]]: the batch joins the (standing) dimension table
    * first, aggregates map-side, and merges with the stored view by
    * the rollup algebra (counts/sums by Σ, extrema by min/max), so
    * maintained == recomputed after every batch (StreamingMvSpec).
    * Insert-only on the FACT side with a FROZEN dim — a dim update
    * changes history attribution and needs the q89 SCD2 treatment,
    * not a fold; fact deletes hit the min/max wall exactly as in
    * [[foldMvBatch]]. Scale shape: the per-batch join is
    * |batch| ⋈ broadcast-able dim, the standing side is |dims| rows —
    * the corpus is never rescanned.
    */
  def foldJoinMvBatch(stored: DataFrame, factBatch: DataFrame,
      dim: DataFrame): DataFrame =
    stored.unionByName(jmAggregateOf(factBatch, dim))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_qty")).as("n_qty"),
        sum(col("sum_qty")).as("sum_qty"),
        min(col("min_qty")).as("min_qty"),
        max(col("max_qty")).as("max_qty"))

  /** Build (or reuse) and register the PRE-JOINED view — the MV that
    * answers aggregates over `lineitem ⋈ orders` without executing
    * the join. Registration contract holds by construction:
    * `o_orderkey` is the orders table's unique key (so the pre-joined
    * aggregate counts each lineitem row exactly once) and the two
    * TPC-H tables have disjoint column names. At 100 TB the raw plan
    * shuffles the entire fact table on `l_orderkey` before it can
    * aggregate; the rewritten plan reads a 15-row parquet — this view
    * removes a fact-side shuffle JOIN, not just a scan, which is the
    * step up from q195's single-table rewrite.
    */
  def ensureJoinMv(s: SparkSession, dir: String): String = {
    val root = jmRoot(dir)
    StandingIndex.ensureArtifact(s, root) {
      refreshView(s, dir, root) {
        jmAggregate(s, dir).coalesce(1).write.mode("overwrite").parquet(s"$root/mv")
      }
      writeReg(s, root, kind = "star",
        paths = Seq(sourcePaths(s, dir, "lineitem"),
          sourcePaths(s, dir, "orders")),
        conds = Seq("l_orderkey" -> "o_orderkey"),
        dims = Seq("o_orderpriority", "l_returnflag"),
        factCol = "l_quantity", countCol = "n_rows", factCountCol = "n_qty",
        sumCol = "sum_qty", minCol = "min_qty", maxCol = "max_qty")
      registerFrom(s, root)
    }
    s"$root/mv"
  }

  /** q201: a JOIN answered from the pre-joined view — the user writes
    * the natural fact ⋈ dim aggregate (order priority × return flag,
    * count/sum/min/max of quantity) and the optimized plan reads the
    * 15-row view instead of joining 60k (or 60B) lineitem rows. The
    * self-check asserts the plan scans NEITHER source table; oracle =
    * the verbatim raw-join DuckDB SQL.
    */
  val q201MvJoin: (SparkSession, String) => DataFrame = (s, dir) =>
    withRewrite(s, ensureJoinMv(s, dir), "mvjoin", "lineitem.parquet") {
      graft.Engine.table(s, dir, "lineitem")
        .join(graft.Engine.table(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"),
          min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
    }.orderBy(col("o_orderpriority"), col("l_returnflag"))

  /** q202: the join MV under a DIM FILTER + ROLLUP + DERIVED AVG —
    * a dim-side predicate (order priority) that Catalyst pushes below
    * the join into the orders scan, where the matcher collects it and
    * carries it over to the view; grouping by the OTHER side's dim
    * rolls the 15 rows up to 3; and `avg(l_quantity)` derives as
    * Σsum_qty / Σn_rows (exact — integer-valued sums, one IEEE
    * division on both paths, rounded 6 dp above the matched shape).
    * One query exercising all three join-MV mechanisms at once.
    */
  val q202MvJoinFiltered: (SparkSession, String) => DataFrame = (s, dir) =>
    withRewrite(s, ensureJoinMv(s, dir), "mvjoin", "lineitem.parquet") {
      graft.Engine.table(s, dir, "lineitem")
        .join(graft.Engine.table(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), avg(col("l_quantity")).as("avg_raw"))
    }.select(col("l_returnflag"), col("n_rows"),
        round(col("avg_raw"), 6).as("avg_qty"))
      .orderBy(col("l_returnflag"))

  // ---- a 3-TABLE STAR MV: lineitem ⋈ orders ⋈ customer ------------

  /** Star-MV layout version. Bumped to 2 for the non-null fact count
    * column and the persisted registration sidecar.
    */
  private val StLayout = 2L

  private[graft] def stRoot(dir: String): String =
    StandingIndex.artifactRoot(dir, "mvstar")

  private def stAggregate(s: SparkSession, dir: String): DataFrame =
    graft.Engine.table(s, dir, "lineitem")
      .join(graft.Engine.table(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.Engine.table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"), count(col("l_quantity")).as("n_qty"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))

  /** Build (or reuse) and register the 3-TABLE STAR view — per
    * (order priority × market segment) aggregates over
    * `lineitem ⋈ orders ⋈ customer`, ~25 rows. The registry
    * fingerprint is the SET of the three scans' root paths × the SET
    * of normalized key pairs, so the rewrite fires however the user
    * (or Catalyst's join reorder) parenthesizes the star — q217
    * deliberately writes the tables in the reverse order. Both chain
    * keys are unique on their dim side (o_orderkey on orders,
    * c_custkey on customer), the precondition for each fact row to
    * count exactly once through the chain. At 100 TB this removes TWO
    * shuffle joins and the corpus scan in one rewrite.
    */
  def ensureStarMv(s: SparkSession, dir: String): String = {
    val root = stRoot(dir)
    StandingIndex.ensureArtifact(s, root) {
      refreshView(s, dir, root) {
        stAggregate(s, dir).coalesce(1).write.mode("overwrite").parquet(s"$root/mv")
      }
      writeReg(s, root, kind = "star",
        paths = Seq(sourcePaths(s, dir, "lineitem"),
          sourcePaths(s, dir, "orders"), sourcePaths(s, dir, "customer")),
        conds = Seq("l_orderkey" -> "o_orderkey", "o_custkey" -> "c_custkey"),
        dims = Seq("o_orderpriority", "c_mktsegment"),
        factCol = "l_quantity", countCol = "n_rows", factCountCol = "n_qty",
        sumCol = "sum_qty", minCol = "min_qty", maxCol = "max_qty")
      registerFrom(s, root)
    }
    s"$root/mv"
  }

  /** q217: the STAR answered from the pre-joined cube — written in
    * the REVERSE table order (customer first) to exercise the
    * fingerprint's join-order invariance, filtered on one dim,
    * grouped by the other, with the derived-avg rollup. The optimized
    * plan reads the ~25-row cube; neither fact nor either dimension
    * table is scanned (self-checked). Oracle = the verbatim raw
    * 3-table join SQL.
    */
  val q217MvStar: (SparkSession, String) => DataFrame = (s, dir) =>
    withRewrite(s, ensureStarMv(s, dir), "mvstar", "lineitem.parquet") {
      graft.Engine.table(s, dir, "customer")
        .join(graft.Engine.table(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"))
        .join(graft.Engine.table(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"),
          avg(col("l_quantity")).as("avg_raw"))
    }.select(col("o_orderpriority"), col("n_rows"), col("sum_qty"),
        round(col("avg_raw"), 6).as("avg_qty"))
      .orderBy(col("o_orderpriority"))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q195_mv_aggregate" -> q195MvAggregate,
      "q196_mv_filtered" -> q196MvFiltered,
      "q197_mv_rollups" -> q197MvRollups,
      "q200_mv_events" -> q200MvEvents,
      "q201_mv_join" -> q201MvJoin,
      "q202_mv_join_filtered" -> q202MvJoinFiltered,
      "q217_mv_star" -> q217MvStar)

  val oracles: Map[String, String] = Map(
    "q195_mv_aggregate" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q196_mv_filtered" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'zh')
        |GROUP BY source ORDER BY source""".stripMargin,
    "q197_mv_rollups" ->
      """SELECT lang, round(avg(n_chars), 6) AS avg_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q200_mv_events" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q201_mv_join" ->
      """SELECT o_orderpriority, l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_rows, sum(l_quantity) AS sum_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority, l_returnflag
        |ORDER BY o_orderpriority, l_returnflag""".stripMargin,
    "q202_mv_join_filtered" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(avg(l_quantity), 6) AS avg_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q217_mv_star" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  sum(l_quantity) AS sum_qty, round(avg(l_quantity), 6) AS avg_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
