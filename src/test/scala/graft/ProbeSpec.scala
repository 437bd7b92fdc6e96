package graft

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._

/** graft.Probe's modes on the shared session at sf0.001, the `drain`
  * helper every timed path goes through, and the strictness of the JSON
  * lines Bench and Probe print. */
class ProbeSpec extends SparkSpec {

  private def strictJson(line: String): JsonNode =
    new ObjectMapper().enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION).readTree(line)

  test("drain returns the row count and evaluates the columns count() prunes away") {
    assert(Probe.drain(spark.range(7).toDF()) == 7)
    val df = spark.range(5).select(col("id"), expr("cast(concat('x', id) as int)").as("bad"))
    assert(df.count() == 5)
    intercept[Exception](Probe.drain(df))
  }

  test("warm times entries and parse probes; its JSON line is strict") {
    val names = Seq("q1_pricing_agg", "q49_parse")
    val warms = Probe.warm(spark, sf, names)
    assert(warms.map(_._1) == names)
    warms.foreach { case (n, s) => assert(s >= 0, s"$n failed") }
    val line = strictJson(Probe.warmLine(sf, warms))
    assert(line.get("metric").asText == "warm_serial_sum")
    assert(line.get("queries").size == 2 && line.get("errors").size == 0)
    intercept[IllegalArgumentException](Probe.warm(spark, sf, Seq("no_such_entry")))
  }

  test("plan writes explain(formatted) per entry") {
    val out = java.nio.file.Files.createTempDirectory("graft_probe_plan").toString
    val paths = Probe.plan(spark, sf, Seq("q1_pricing_agg", "d5_embed_topk"), out)
    assert(paths.map(_.getFileName.toString) == Seq("q1_pricing_agg.txt", "d5_embed_topk.txt"))
    paths.foreach(p => assert(java.nio.file.Files.readString(p).contains("== Physical Plan ==")))
  }

  test("audit prints one line per entry with its red flags") {
    val lines = Probe.audit(spark, sf, Seq("q1_pricing_agg", "d5_embed_topk"))
    assert(lines.size == 2 && lines.forall(_.startsWith("[audit] ")), lines)
    assert(!lines.exists(_.contains("ERROR")), lines)
    assert(lines(1).contains("BcastNLJoin"), lines(1))
  }

  test("Bench's headline line is strict JSON with the warm wall first and last") {
    val line = Bench.headline(wallCold = 12.5, wallWarm = 7.25, cal = 0.3, ext = 0.0,
      io = 0.01, contended = false, retries = 1, sfDir = sf, errors = Seq("q2_bad"),
      probes = Seq("q49_parse" -> 0.5, "q53_parse" -> -1.0),
      queries = Seq(("q1_pricing_agg", 0.25, true), ("q2_bad", 9.0, false)))
    val j = strictJson(line)
    assert(j.get("value").asDouble == 12.5 && j.get("wall").asDouble == 7.25)
    assert(j.get("wall_tail").asDouble == 7.25)
    assert(line.endsWith(""""wall_tail":7.250}"""))
    assert(j.get("queries").get("q2_bad").asDouble == -1.0)
    assert(j.get("errors").get(0).asText == "q2_bad")
    assert(j.get("probes").get("q53_parse").asDouble == -1.0)
  }
}
