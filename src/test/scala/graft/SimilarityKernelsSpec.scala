package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Scalars

/** The codegen'd similarity kernels (Simhash60, Minhash8, CosineSim,
  * HyperplaneBucket64) replace interpreted higher-order-function chains
  * in the q45–q57 family. Each test proves the kernel bit-identical to
  * the HOF formulation it replaced (which is also the formulation the
  * DuckDB oracles compute) over the real fixture corpus — so swapping
  * the kernels can never move a signature, bucket, or score.
  */
class SimilarityKernelsSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  private def docsTok = {
    Engine.table(spark, dir, "documents")
      .withColumn("tok", expr("split(trim(lower(text)), '\\\\s+')"))
  }

  test("simhash60 kernel == exploded two-level aggregation formulation") {
    val kernel = docsTok
      .select(col("doc_id"), Scalars.simhash60(col("tok")).as("simhash"))
    val exploded = docsTok
      .select(col("doc_id"), explode(col("tok")).as("token"))
      .withColumn("hv", expr("stable_hash64(token)"))
      .select(col("doc_id"), col("hv"), explode(expr("sequence(0, 59)")).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(when(expr("(hv >> b) & 1") === 1, 1).otherwise(-1)).as("vote"))
      .withColumn("bit", when(col("vote") > 0, 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(sum(expr("shiftleft(bit, b)")).cast("long").as("simhash"))
    assert(kernel.count() == 500)
    assert(kernel.exceptAll(exploded).isEmpty && exploded.exceptAll(kernel).isEmpty)
  }

  test("minhash8 kernel == 8 transform+array_min HOF passes") {
    val sh = docsTok
      .filter(size(col("tok")) >= 3)
      .withColumn("sh", Scalars.distinct_shingles3(col("tok")))
    val p = graft.functions.ScalarOps.MinhashP
    val hof = (0 until 8).foldLeft(
      sh.withColumn("hsh", expr(s"transform(sh, s -> stable_hash64(s) % ${p}L)"))) {
      (df, i) =>
        val a = graft.functions.ScalarOps.MinhashA(i)
        val b = graft.functions.ScalarOps.MinhashB(i)
        df.withColumn(s"mh$i", expr(s"array_min(transform(hsh, h -> (${a}L * h + ${b}L) % ${p}L))"))
    }.select(col("doc_id") +: (0 until 8).map(i => col(s"mh$i")): _*)
    val kernel = sh.withColumn("mhs", Scalars.minhash8(col("sh")))
      .select(col("doc_id") +: (0 until 8).map(i => col("mhs").getItem(i).as(s"mh$i")): _*)
    assert(kernel.count() > 0)
    assert(kernel.exceptAll(hof).isEmpty && hof.exceptAll(kernel).isEmpty)
  }

  test("cosine_sim kernel == sequential aggregate() folds (incl. float/double mix)") {
    val e = Engine.table(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // double-typed side exercises the mixed float/double accessor path
    val pairs = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      .withColumn("qed", expr("transform(qe, x -> cast(x as double))"))
    val hofExpr =
      """aggregate(zip_with(qed, embedding, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, v) -> acc + v)
        | / (sqrt(aggregate(qed, cast(0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double)))
        |    * sqrt(aggregate(embedding, cast(0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double))))""".stripMargin
    val both = pairs
      .withColumn("hof", expr(hofExpr))
      .withColumn("kernel", Scalars.cosine_sim(col("qed"), col("embedding")))
    assert(both.count() > 0)
    // bit-identical, not approximately equal: same fold order, same ops
    assert(both.filter(
      expr("cast(kernel as string) != cast(hof as string)")).isEmpty)
  }

  test("hyperplane_bucket64 kernel == per-row hash-derived HOF buckets") {
    def planeS(i: Int): String =
      s"""aggregate(zip_with(embedding, sequence(0, 63), (x, j) -> cast(stable_hash64(concat('hp:$i:', j)) % 2001 - 1000 as double) * cast(x as double)), cast(0 as double), (acc, v) -> acc + v)"""
    val bucketExpr = (0 until 8).map(i =>
      s"(case when ${planeS(i)} > 0 then 1 else 0 end) * ${1 << i}").mkString(" + ")
    val e = Engine.table(spark, dir, "embeddings")
      .withColumn("hof", expr(bucketExpr))
      .withColumn("kernel", Scalars.hyperplane_bucket64(col("embedding")))
    assert(e.count() > 0)
    assert(e.filter(col("hof") =!= col("kernel")).isEmpty)
  }

  test("LSH band recall tracks the 1-(1-s^r)^b curve at controlled Jaccard levels") {
    // q45's banding: 8 minhashes in b=4 bands of r=2 rows, so a pair
    // with Jaccard s becomes a candidate with p(s) = 1-(1-s^2)^4.
    // Synthetic pairs with EXACT Jaccard: shingle sets of size k
    // sharing m elements => s = m/(2k-m); 200 pairs per level, each
    // with disjoint shingle vocabularies, so the empirical candidate
    // rate is a 200-draw estimate of p(s). Assert it within 4 sigma
    // (plus a 5% floor) of the curve — a broken band key, permutation
    // constant, or hash would push recall far outside that envelope.
    import spark.implicits._
    val k = 40
    val pairsPerLevel = 200
    val levels = Seq(38, 30, 20, 10) // s = .905, .600, .333, .143
    val rows = for {
      m <- levels
      p <- 0 until pairsPerLevel
      side <- 0 to 1
    } yield {
      val common = (0 until m).map(i => s"m${m}_p${p}_c$i")
      val unique = (0 until (k - m)).map(i => s"m${m}_p${p}_s${side}_u$i")
      (m, p, side, common ++ unique)
    }
    val sigs = rows.toDF("m", "pair", "side", "sh")
      .withColumn("mhs", Scalars.minhash8(col("sh")))
      .select(col("m"), col("pair"), col("side"), col("mhs"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getSeq[Long](3)))
      .toMap
    def candidate(m: Int, p: Int): Boolean = {
      val a = sigs((m, p, 0)); val b = sigs((m, p, 1))
      (0 until 4).exists(j => a(2 * j) == b(2 * j) && a(2 * j + 1) == b(2 * j + 1))
    }
    val measured = levels.map { m =>
      m -> (0 until pairsPerLevel).count(p => candidate(m, p)).toDouble / pairsPerLevel
    }.toMap
    val expected = levels.map { m =>
      val s = m.toDouble / (2 * k - m)
      m -> (1.0 - math.pow(1.0 - s * s, 4))
    }.toMap
    levels.foreach { m =>
      val p = expected(m)
      val tol = math.max(0.05, 4.0 * math.sqrt(p * (1 - p) / pairsPerLevel))
      assert(math.abs(measured(m) - p) <= tol,
        s"m=$m: measured ${measured(m)} vs curve $p (tol $tol)")
    }
    // recall must be monotone in similarity
    assert(levels.map(measured) == levels.map(measured).sorted.reverse)
  }

  test("kernels run inside whole-stage codegen") {
    val df = docsTok
      .filter(size(col("tok")) >= 3)
      .select(Scalars.simhash60(col("tok")).as("s"),
        Scalars.minhash8(Scalars.distinct_shingles3(col("tok"))).as("m"))
    val cg = df.queryExecution
      .explainString(org.apache.spark.sql.execution.CodegenMode)
    val count = "\\*\\(\\d+\\)".r.findAllIn(
      df.queryExecution.executedPlan.toString).size
    assert(count > 0, s"no WholeStageCodegen stage in plan:\n$cg")
  }
}
