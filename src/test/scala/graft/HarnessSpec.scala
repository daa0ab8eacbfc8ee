package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ScalarOps

/** The one run harness the mains share: its query selection, its
  * drained job count and the JSON text the mains write through it.
  */
class HarnessSpec extends AnyFunSuite {

  test("a blank selection selects every declared query, sorted") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    Seq("", "   ", " , ,\t").foreach { spec =>
      assert(Harness.select(spec) == ((all, Nil)), s"spec '$spec'")
    }
  }

  test("unknown names come back as unknown and are not selected") {
    val (known, unknown) =
      Harness.select(" q18_intersect,no_such_query , q01_pricing_summary,q18_intersect")
    assert(known == Seq("q01_pricing_summary", "q18_intersect"))
    assert(unknown == Seq("no_such_query"))
    assert(Harness.select("only_unknown") == ((Nil, Seq("only_unknown"))))
  }

  test("the drained job count is exact and repeatable") {
    val h = new Harness("harness-spec")
    val df = h.spark.range(10).toDF("id")
    h.run(df) // warm
    assert(h.countingJobs(h.run(df))._2 == 1)
    assert(h.countingJobs(h.run(df))._2 == 1)
  }

  test("jsonString writes the mains' fields as JSON that reads back unchanged") {
    val mapper = new ObjectMapper()
    def roundTrip(s: String): String = mapper.readTree(ScalarOps.jsonString(s)).asText
    val sf = "testdata/sf0.1"
    assert(ScalarOps.jsonString(sf) == "\"" + sf + "\"")
    val sql = "SELECT 'it''s' AS \"q\", 'a\\b' AS s\nFROM t\tWHERE x = '\u0001'"
    val bs = "\\"
    assert(ScalarOps.jsonString(sql) ==
      s""""SELECT 'it''s' AS ${bs}"q${bs}", 'a${bs}${bs}b' AS s${bs}nFROM t${bs}tWHERE x = '${bs}u0001'"""")
    Seq(sf, sql, "path/with\"quote", "").foreach(s => assert(roundTrip(s) == s))
  }
}
