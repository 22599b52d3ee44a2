package graft

import java.nio.file.Files
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Every [[Scale]] phase body runs once at a tiny size with its asserts
  * live, so the scale main cannot rot unrun; the record states its
  * conditions, and a claim whose precondition fails is written as not
  * held. */
class ScaleSpec extends SparkSpec {

  /** The smallest sizes at which each phase's planted ground truth still
    * exists (ann samples centroids from ids 100..163, bfs needs a
    * frontier that can grow 3 hops, hll must hit all 256 registers). */
  private val tiny = Map(
    "lsh" -> 50L, "ann" -> 2000L, "vnd" -> 2000L, "span" -> 2000L, "pr" -> 5000L,
    "ed" -> 2000L, "bfs" -> 20000L, "pf" -> 2000L, "sub" -> 2000L, "lpa" -> 4000L,
    "kc" -> 5000L, "hll" -> 200000L, "rj" -> 20000L, "tk" -> 20000L, "fo" -> 20000L,
    "bm" -> 100000L, "cf" -> 80000L, "fsc" -> 80000L, "fsm" -> 20000L, "fsv" -> 30000L)

  private def record(plan: Seq[(Scale.Phase, Long)]): JsonNode = {
    val out = Files.createTempFile("scale", ".json")
    try {
      Scale.run(spark, plan, out)
      new ObjectMapper().readTree(Files.readAllBytes(out))
    } finally Files.deleteIfExists(out)
  }

  test("every phase runs at a tiny size with its asserts live; no claim holds below its size") {
    assert(tiny.keySet == Scale.phases.map(_.name).toSet, "every phase needs a tiny size here")
    val rec = record(Scale.phases.map(p => p -> tiny(p.name)))
    assert(rec.get("cpus").asInt == spark.sparkContext.defaultParallelism)
    assert(rec.has("git_rev"))
    assert(rec.get("heap_max_bytes").asLong == Runtime.getRuntime.maxMemory)
    Scale.phases.foreach { p =>
      val node = rec.get("phases").get(p.name)
      assert(node.get("ran_at").asLong == tiny(p.name) && node.get("size").asLong == p.size)
      assert(!node.get("precondition_met").asBoolean && !node.get("held").asBoolean, p.name)
      assert(node.get("figures").size > 0, p.name)
    }
    val fsc = rec.get("phases").get("fsc")
    assert(fsc.get("precondition").asText.contains("Runtime.maxMemory"))
    assert(fsc.get("figures").get("fsc_mem_equiv_over_heap").asDouble < 1.5)
  }

  test("a claim holds only when its precondition is met and its figures show it") {
    def probe(name: String, min: Long, shown: Boolean) = Scale.Phase(name, 1L, s"$name claim",
      (_, n, _) => Seq("x" -> n),
      extra = Some((s"x >= $min", (f: Map[String, Any]) => f("x").asInstanceOf[Long] >= min)),
      check = _ => shown)
    val rec = record(Seq(probe("met", 2L, shown = true) -> 2L, probe("unmet", 3L, shown = true) -> 2L,
      probe("unshown", 2L, shown = false) -> 2L))
    def field(p: String, k: String) = rec.get("phases").get(p).get(k)
    assert(field("met", "held").asBoolean)
    assert(!field("unmet", "precondition_met").asBoolean && !field("unmet", "held").asBoolean)
    assert(field("unmet", "precondition").asText == "n >= 1 and x >= 3")
    assert(field("unmet", "figures").get("x").asLong == 2L, "the figures are kept either way")
    assert(field("unshown", "precondition_met").asBoolean && !field("unshown", "held").asBoolean)
  }

  test("a failing phase is recorded as an error and the run throws after writing the record") {
    val boom = Scale.Phase("boom", 1L, "never", (_, _, _) => throw new IllegalStateException("planted"))
    val out = Files.createTempFile("scale", ".json")
    try {
      val e = intercept[IllegalStateException](Scale.run(spark, Seq(boom -> 1L), out))
      assert(e.getMessage.contains("boom"))
      val node = new ObjectMapper().readTree(Files.readAllBytes(out)).get("phases").get("boom")
      assert(!node.get("held").asBoolean && node.get("error").asText.contains("planted"))
    } finally Files.deleteIfExists(out)
  }
}
