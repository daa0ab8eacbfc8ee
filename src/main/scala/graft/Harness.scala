package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** The one run harness the mains ([[Bench]], [[Verify]], [[WarmProbe]],
  * [[Explain]]) share, so a query runs the same way whichever main runs
  * it:
  *  - the session: `Engine.session` at `local[SPARK_GRAFT_CPUS]`
  *    (default 4);
  *  - the fixture dir: `sfDir`, by default `SPARK_GRAFT_SF_DIR`
  *    (default sf0.1);
  *  - the query selection: `SPARK_GRAFT_QUERIES`, see [[Harness.select]];
  *  - the noop sink and the timed run;
  *  - the out-file writer.
  * `tag` prefixes the harness's stderr lines (`[bench] …`).
  */
final class Harness(tag: String,
    val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")) {

  val spark: SparkSession =
    Engine.session(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")

  /** The selected declared queries, sorted. */
  val names: Seq[String] = {
    val (known, unknown) = Harness.select(sys.env.getOrElse("SPARK_GRAFT_QUERIES", ""))
    if (unknown.nonEmpty) log(s"unknown query names in SPARK_GRAFT_QUERIES: ${unknown.mkString(", ")}")
    known
  }

  def log(msg: String): Unit = System.err.println(s"[$tag] $msg")

  def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  /** Execute `df` in full: a noop write keeps every sort and projection
    * that `count()` would let Catalyst drop.
    */
  def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Seconds to build and run the named query, after a GC so a query
    * does not pay for an earlier one's garbage.
    */
  def timed(name: String): Double = {
    System.gc()
    val t0 = System.nanoTime()
    run(query(name))
    (System.nanoTime() - t0) / 1e9
  }

  private lazy val jobs: AtomicInteger = {
    val n = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    })
    n
  }

  /** `body`'s value and the Spark jobs it submitted. The listener bus is
    * drained on both sides, outside anything `body` times; the listener
    * is added on first use, so a main that never counts carries none.
    */
  def countingJobs[A](body: => A): (A, Int) = {
    val n = jobs
    Bridge.drainListenerBus(spark)
    val before = n.get
    val a = body
    Bridge.drainListenerBus(spark)
    (a, n.get - before)
  }

  /** Print `line` on stdout and write it, newline-terminated, to each
    * path; a failed write is reported, not thrown.
    */
  def emit(line: String, paths: Seq[String]): Unit = {
    println(line)
    paths.foreach { p =>
      try {
        val path = Paths.get(p)
        Option(path.getParent).foreach(Files.createDirectories(_))
        Files.writeString(path, line + "\n")
      } catch { case e: Exception => log(s"write $p: $e") }
    }
  }

  def stop(): Unit = spark.stop()
}

object Harness {

  /** Parse a comma-separated query selection against the declared
    * names: (selected, sorted; unknown names, sorted). A blank selection
    * selects every declared query.
    */
  def select(spec: String): (Seq[String], Seq[String]) = {
    val declared = SparkEntry.queries.keySet
    val asked = spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
    if (asked.isEmpty) (declared.toSeq.sorted, Nil)
    else (asked.intersect(declared).toSeq.sorted, asked.diff(declared).toSeq.sorted)
  }
}
