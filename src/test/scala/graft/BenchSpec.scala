package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver machine-parses a bounded (2,000-char) tail of Bench's
  * stdout: the final line must ALWAYS fit, for the real registry, at any
  * plausible timing magnitude — that is the whole point of the compact
  * line (rounds 1–2 shipped a ~4.4 KB line the driver could never see). */
class BenchSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted

  test("compact bench line fits the driver tail window at realistic timings") {
    val results = names.map(_ -> 1.234567) // typical sub-10s medians
    val line = Bench.compactLine(12.3456, 98.7654, results, "/root/testdata/sf0.1", 5)
    assert(line.length <= Bench.MaxLineChars, s"line is ${line.length} chars")
    assert(line.contains("\"queries\":{"), "per-query medians should fit at this scale")
    assert(!line.contains("cold_queries"), "cold map belongs in BENCH.json only")
    assert(!line.contains("\n"))
  }

  test("per-query medians stay in the tail line — partial past ~205 queries, never silent") {
    // r5 decision, amended twice as the registry grew: the key ladder
    // (qNN → bare registry number) and the n_failed:0 elision kept full
    // maps with ≥1-decimal medians to ~205 queries; past that the
    // arithmetic is unforgiving (~10 chars per entry × registry > the
    // 1,950-char window), so the tail now degrades to a PARTIAL map —
    // slowest queries first, the ones any perf comparison reads — with
    // an EXPLICIT "q_omitted" count. FULL 3-decimal medians live in
    // BENCH.json, committed in-repo every round. What must NEVER happen
    // is the map vanishing silently.
    assert(names.size >= 94, s"registry shrank to ${names.size} queries")
    val results = names.map(_ -> 1.234567)
    val line = Bench.compactLine(12.3456, 98.7654, results, "/root/testdata/sf0.1", 5)
    assert(line.length <= Bench.MaxLineChars, s"line is ${line.length} chars")
    assert(line.contains("\":1.2"),
      s"per-query precision fell below 1 decimal at ${names.size} queries " +
        s"(line is ${line.length} chars)")
    assert(line.contains("\"queries\":{"),
      s"per-query map fell out of the tail at ${names.size} queries")
    // if the map went partial, it must say so, and still carry the bulk
    if (line.contains("\"q_omitted\":")) {
      val kept = "\":1\\.2".r.findAllIn(line).size
      assert(kept >= 100, s"partial map kept only $kept medians")
      val omitted = "\"q_omitted\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toInt
      assert(kept + omitted == names.size,
        s"kept $kept + omitted $omitted != registry ${names.size}")
    }
  }

  test("partial tail map keeps the SLOWEST queries when it cannot keep all") {
    // force the partial rung with a huge synthetic registry: the survivors
    // must be exactly the most expensive entries, explicitly counted
    val big = (1 to 400).map(i => f"q$i%03d_synthetic" -> i * 0.01)
    val line = Bench.compactLine(1.0, 2.0, big, "sf0.1", 5)
    assert(line.length <= Bench.MaxLineChars, s"line is ${line.length} chars")
    assert(line.contains("\"q_omitted\":"), "400 entries cannot fit — must mark omission")
    assert(line.contains("\"400\":4") && line.contains("\"399\":3.99") ||
      line.contains("\"399\":"), "slowest queries must survive the cut")
    assert(!line.contains("\"1\":0.01"), "cheapest query should be the first omitted")
  }

  test("compact bench line degrades but still fits at adversarial timings") {
    val results = names.map(_ -> 3599.999999) // hour-long queries
    val line = Bench.compactLine(99999.9, 99999.9, results, "/root/testdata/sf0.1", 5)
    assert(line.length <= Bench.MaxLineChars, s"line is ${line.length} chars")
    assert(line.startsWith("{\"metric\":\"total\",\"value\":"))
  }

  test("degradation markers: runs_min below configured runs is stated, clean runs stay unmarked") {
    val results = names.map(_ -> 1.234567)
    // degraded run: some query fell to 1 warm run — the line must say so
    val degraded = Bench.compactLine(12.3, 98.7, results,
      "/root/testdata/sf0.1", 5, runsMin = 1, retimed = 2)
    assert(degraded.length <= Bench.MaxLineChars,
      s"line is ${degraded.length} chars")
    assert(degraded.contains("\"runs_min\":1"),
      "a total mixing 5-run medians with 1-run figures must carry the marker")
    assert(degraded.contains("\"retimed\":2"),
      "drift-pass re-times must be visible in the tail line")
    // clean run: no markers, shape identical to the historical line
    val clean = Bench.compactLine(12.3, 98.7, results,
      "/root/testdata/sf0.1", 5, runsMin = 5, retimed = 0)
    assert(!clean.contains("runs_min") && !clean.contains("retimed"),
      "markers are degradation-only — clean lines keep the committed shape")
  }

  test("record header states the cpu count and the git revision, null outside a work tree") {
    def parse(h: String) = new com.fasterxml.jackson.databind.ObjectMapper().readTree("{" + h + "}")
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_spec").toFile
    try {
      val bare = parse(Bench.header(8, dir))
      assert(bare.get("cpus").asInt == 8)
      assert(bare.get("git_rev").isNull, "no work tree, no revision")
      def git(args: String*): String = {
        val p = new ProcessBuilder(("git" +: "-c" +: "user.name=t" +: "-c" +: "user.email=t@t" +: args): _*)
          .directory(dir).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        assert(p.waitFor() == 0, out)
        out
      }
      git("init", "-q")
      git("commit", "-q", "--allow-empty", "-m", "x")
      val rev = git("rev-parse", "HEAD")
      val inTree = parse(Bench.header(32, dir))
      assert(inTree.get("cpus").asInt == 32)
      assert(inTree.get("git_rev").asText == rev)
    } finally Tables.deleteRecursively(dir)
  }

  test("drift reference: only a record taken at the session's cpu count gives figures") {
    val queries = """"queries":{"q01_filter_project":0.25,"q02_group_agg":1.5,"q03_frequencies":-1}"""
    val same = Bench.driftReference(s"""{"metric":"total",$queries,"cpus":4,"git_rev":null}""", 4)
    assert(same == Map("q01_filter_project" -> 0.25, "q02_group_agg" -> 1.5),
      "positive figures only: a failed query (-1) is no reference")
    assert(Bench.driftReference(s"""{"metric":"total",$queries,"cpus":8,"git_rev":null}""", 4).isEmpty,
      "a record taken at another cpu count is no reference")
    assert(Bench.driftReference(s"""{"metric":"total",$queries}""", 4).isEmpty,
      "a record that does not state its cpu count is no reference")
    assert(Bench.driftReference("not json", 4).isEmpty)
    // the committed record: r13's, taken before records stated their cpus
    val committed = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("BENCH.json")), "UTF-8")
    val recCpus = Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(committed).get("cpus"))
    for (c <- Seq(4, 8, 32))
      assert(Bench.driftReference(committed, c).nonEmpty == recCpus.exists(_.asInt == c), s"cpus $c")
  }

  test("compact line is valid minimal JSON shape with failed queries") {
    val results = names.map(_ -> -1.0)
    val line = Bench.compactLine(0.0, -0.0, results, "sf", 1)
    assert(line.length <= Bench.MaxLineChars)
    assert(line.contains("\"value\":0"))
    assert(line.contains(":-1")) // failed queries keep their -1 marker
  }
}
