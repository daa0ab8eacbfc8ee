package graft

/** Dev utility: print the executed physical plan of each selected query
  * (every declared query by default, see [[Harness]]) — the `.explain`
  * feedback loop the scale-audit workflow uses
  * (`SPARK_GRAFT_QUERIES=q138_domain_cap sbt "runMain graft.Explain"`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val h = new Harness("explain")
    h.names.foreach { name =>
      println(s"==== $name ====")
      h.query(name).explain("formatted")
    }
    h.stop()
  }
}
