package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** graft.Profile's audit rows: the committed shuffle_audit.json format,
  * per-query byte attribution from the stage listener, the exchange
  * count of the executed plan, and failures recorded in `failed`. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val mapper = new ObjectMapper()
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  test("audit rows keep the shuffle_audit.json format, exchange counts " +
      "and shuffle attribution, and record a failing query") {
    val queries = Seq(
      "q1_agg" -> SparkEntry.queries("q1_agg"),
      "boom" -> ((_: org.apache.spark.sql.SparkSession, _: String) =>
        throw new IllegalStateException("boom \"quoted\"")),
      "s1_filtered_scan" -> SparkEntry.queries("s1_filtered_scan"))
    val (rows, failed) = Profile.audit(spark, sf, queries, detail = true)

    assert(rows.map(_.name) == Seq("q1_agg", "s1_filtered_scan"))
    assert(failed.keySet == Set("boom"))
    rows.foreach { r =>
      val want = ExchangeCount.shuffleExchanges(
        SparkEntry.queries(r.name)(spark, sf).queryExecution.executedPlan)
      assert(r.exchanges == want, r.name)
      assert(r.total.tasks > 0 && r.total.input > 0, r.name)
    }
    val byName = rows.map(r => r.name -> r).toMap
    assert(byName("q1_agg").exchanges == 1)
    assert(byName("q1_agg").total.shuffleWrite > 0)
    assert(byName("s1_filtered_scan").exchanges == 0)
    assert(byName("s1_filtered_scan").total.shuffleWrite == 0)

    val doc = mapper.readTree(Profile.json(sf, rows, failed, 0, Nil))
    val committed = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get("shuffle_audit.json")))
    assert(keys(doc) == keys(committed))
    val committedRow = committed.get("queries").elements().next()
    assert(keys(doc.get("queries")) == Seq("q1_agg", "s1_filtered_scan"))
    doc.get("queries").elements().asScala.foreach { row =>
      assert(keys(row) == keys(committedRow))
    }
    assert(doc.get("n_failed").asInt == 1)
    assert(doc.get("failed").get("boom").asText.startsWith(
      "IllegalStateException: boom"))
  }
}
