package graft.tools

import org.apache.spark.sql.types._
import graft.testkit.SparkSpec

/** The replica state probe at unit scale: its three legs and every
  * `require` they carry run here, so the tool cannot rot between the
  * replica runs that use it. */
class StateProbeSpec extends SparkSpec {

  test("state probe at sf0.01: one JSON line, one funnel row per key, one skyline key") {
    val line = StateProbe.measure(spark, "/root/testdata/sf0.01", "sf0.01")
    assert(!line.contains("\n"))
    val js = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(js.get("label").asText == "sf0.01")
    Seq("anchors", "collide", "stars", "counters").foreach { t =>
      assert(js.get("funnel").get(t).get("max_rows_per_key").asLong == 1L, s"funnel $t: $line")
    }
    assert(js.get("skyline").get("state_keys").asLong == 1L, line)
  }

  test("state field locator: first match depth first, with its struct path") {
    val st = StructType(Seq(
      StructField("a", LongType),
      StructField("groupState", StructType(Seq(
        StructField("buf", ArrayType(LongType)),
        StructField("pts", ArrayType(LongType))))),
      StructField("pts", ArrayType(LongType))))
    assert(StateProbe.fieldPath(st, "buf", "value.").contains("value.groupState.buf"))
    assert(StateProbe.fieldPath(st, "pts", "value.").contains("value.groupState.pts"))
    assert(StateProbe.fieldPath(st, "nope", "value.").isEmpty)
  }
}
