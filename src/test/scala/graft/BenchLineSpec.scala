package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** The Bench stdout line is the driver's ONLY performance record — it
  * must parse as JSON under every degradation the environment can
  * inflict: a quoted/backslashed sf path, a 150-query map, per-query
  * times long enough to blow the parse window. Pure logic, no Spark. */
class BenchLineSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def parse(s: String) = mapper.readTree(s)

  private def headline(sf: String) = BenchLine.Headline(
    sfDir = sf, load1 = 3.125, queryErrors = 2,
    ingestRate = 1500000L, ingestRateUnbucketed = 5000000L,
    streamRows = 30000000L, streamRate = 1600000L)

  test("a quoted, backslashed, control-charred sf path stays parseable") {
    val evil = "/tmp/\"quoted\" dir\\with\\slashes\n/sf0.1"
    val line = BenchLine.render(headline(evil),
      Seq("q01_agg" -> 1.5), Seq("q01_agg" -> "1.5"), "")
    val node = parse(line)
    assert(node.get("sf").asText() == evil)
    assert(node.get("queries").get("q01_agg").asDouble() == 1.5)
  }

  test("150-query compact line fits the window and parses with full headline") {
    val results = (1 to 150).map(i => (f"q$i%03d_some_operator_name", i * 0.137))
    val line = BenchLine.compact(headline("/root/testdata/sf0.1"), results)
    assert(line.length <= BenchLine.MaxLen, s"line ran ${line.length} chars")
    val node = parse(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("ingest_streaming_rows_per_sec").asLong() == 1600000L)
    assert(node.get("query_errors").asInt() == 2)
  }

  test("the current 135-query suite shape keeps its per-query map") {
    // two-digit ids + ~1-20 s times: the shape the real suite emits —
    // this is the rung the 1900-char budget was sized for
    val results = (1 to 135).map(i => (f"q$i%02d_operator", 1.0 + (i % 20)))
    val line = BenchLine.compact(headline("/root/testdata/sf0.1"), results)
    assert(line.length <= BenchLine.MaxLen, s"line ran ${line.length} chars")
    val node = parse(line)
    assert(node.get("queries").size() == 135)
    assert(node.get("queries").has("q01"))
  }

  test("pathological per-query times shed the fastest queries, never over-length") {
    // >100 s per query at 150 queries: even 0.1 s precision overflows —
    // the ladder sheds fastest-first and records the omission count
    val results = (1 to 150).map(i =>
      (f"q$i%03d_x", 100000.0 + i * 1.111111))
    val line = BenchLine.compact(headline("/root/testdata/sf0.1"), results)
    assert(line.length <= BenchLine.MaxLen, s"line ran ${line.length} chars")
    val node = parse(line)
    val kept = node.get("queries").size()
    assert(kept > 0 && kept < 150, s"partial map expected, got $kept")
    assert(node.get("q_omitted").asInt() == 150 - kept)
    assert(node.get("queries").has("q150"), "the slowest query must be kept")
    assert(!node.get("queries").has("q001"), "the fastest query sheds first")
    assert(node.get("value").asDouble() > 1.5e7, "total survives the shed")
    assert(node.get("ingest_rows_per_sec").asLong() == 1500000L)
  }

  test("queries that print the same 0.1 s time shed by name, not by jitter") {
    // every time prints 100000.0, so the shed boundary falls between two
    // queries that print the same time; their raw order runs against
    // name order in one run and with it in the other
    def kept(jitter: Int => Double): Seq[String] = {
      val results = (1 to 150).map(i => (f"q$i%03d_x", 100000.0 + jitter(i)))
      val line = BenchLine.compact(headline("/root/testdata/sf0.1"), results)
      assert(line.length <= BenchLine.MaxLen, s"line ran ${line.length} chars")
      val q = parse(line).get("queries")
      (1 to 150).map(i => f"q$i%03d").filter(q.has)
    }
    val rising = kept(i => i * 0.0002)
    val falling = kept(i => (151 - i) * 0.0002)
    assert(rising.nonEmpty && rising.size < 150, s"partial map expected, got ${rising.size}")
    assert(rising == falling, "sub-0.1 s jitter must not rotate the shed set")
    assert(rising == (1 to rising.size).map(i => f"q$i%03d"),
      "within a printed-time tie the first names are kept")
  }

  test("the 157-query suite shape keeps a slowest-first map with q_omitted") {
    // three-digit ids + realistic times: the post-r9 suite no longer
    // fits complete — the line must keep the slow (informative) tail
    // and mark what was shed; a failed query (-1) must never be shed
    val results = (1 to 156).map(i => (f"q$i%03d_operator", 0.2 + (i % 40))) ++
      Seq(("q157_broken", -1.0))
    val line = BenchLine.compact(headline("/root/testdata/sf0.1"), results)
    assert(line.length <= BenchLine.MaxLen, s"line ran ${line.length} chars")
    val node = parse(line)
    val q = node.get("queries")
    if (node.has("q_omitted")) {
      assert(q.size() + node.get("q_omitted").asInt() == 157)
      assert(q.has("q157"), "a red query stays visible through shedding")
      // every omitted query is faster than every kept one
      val keptMin = (1 to 156).map(i => f"q$i%03d")
        .filter(q.has).map(k => q.get(k).asDouble()).min
      val omittedMax = (1 to 156).map(i => (f"q$i%03d", 0.2 + (i % 40)))
        .filterNot { case (k, _) => q.has(k) }.map(_._2).max
      assert(omittedMax <= keptMin)
    } else assert(q.size() == 157)
  }

  test("failed queries are excluded from the total and the map carries -1") {
    val line = BenchLine.render(headline("/x"),
      Seq("q1_a" -> 2.0, "q2_b" -> -1.0),
      Seq("q1" -> "2.00", "q2" -> "-1.00"), "")
    val node = parse(line)
    assert(node.get("value").asDouble() == 2.0)
    assert(node.get("queries").get("q2").asDouble() == -1.0)
  }

  // VERDICT r14 #4: the race stage's accounting must exist in the
  // emitted JSON and a race failure must have a red path to the
  // driver gate (query_errors), not just a -1 field nothing reads.
  test("race accounting fields survive into the smoke JSON with ambient provenance") {
    val entries = Seq(
      "race_soak" -> 48.7, "race_soak_amb" -> 1.2, "race_soak_load1" -> 9.0,
      "race_committed_rows" -> 1200000.0, "race_conflict_loud" -> 1.0)
    val json = BenchLine.smokeJson(50000000L, entries)
    val node = parse("{" + json.stripPrefix(",") + "}")
    val smoke = node.get("scale_smoke")
    Seq("race_soak", "race_soak_amb", "race_soak_load1",
      "race_committed_rows", "race_conflict_loud").foreach(f =>
      assert(smoke.has(f), s"smoke JSON lost the race accounting field $f"))
    assert(smoke.get("race_conflict_loud").asDouble() == 1.0)
    assert(BenchLine.smokeJson(1L, Seq.empty) == "")
  }

  // ADVICE r15 (medium): the always-on extras grow linearly with probe
  // reps and smoke stage count — with the map fully shed, the line must
  // shed extras segments from the END rather than EVER print over-length.
  test("oversized extras are shed from the end, line never over-length") {
    val hugeSmoke = "," + "\"scale_smoke\":{" +
      (1 to 120).map(i => s""""stage${i}_io_stall":0.42""").mkString(",") + "}"
    val gate = s""","ingest_headline_gated":true,"ingest_best_ambient":1.50"""
    val sha = s""","full_map_sha256_16":"0123456789abcdef""""
    val results = (1 to 150).map(i => (f"q$i%03d_op", 1.0 + (i % 20)))
    val line = BenchLine.compact(headline("/root/testdata/sf0.1"), results,
      Seq(sha, gate, hugeSmoke))
    assert(line.length <= BenchLine.MaxLen, s"line ran ${line.length} chars")
    val node = parse(line)
    // the LAST segment (the huge smoke map) sheds first; the sha — the
    // full-map binding — survives longest
    assert(node.has("full_map_sha256_16"), "most-important extra was shed first")
    assert(!node.has("scale_smoke"), "the oversized segment must shed")
    assert(node.get("extras_omitted").asInt() >= 1)
    assert(node.get("ingest_rows_per_sec").asLong() == 1500000L)
  }

  test("extras that fit ride unchanged with no extras_omitted") {
    val results = (1 to 20).map(i => (f"q$i%02d_op", 1.5))
    val line = BenchLine.compact(headline("/x"), results,
      Seq(s""","full_map_sha256_16":"00ff""""))
    val node = parse(line)
    assert(node.get("full_map_sha256_16").asText() == "00ff")
    assert(!node.has("extras_omitted"))
    assert(node.get("queries").size() == 20)
  }

  // r16: the compact smoke packs [sec, amb, io_stall] (+[rmb, wmb] on
  // index builds) per stage — suffixed keys blew the first r16 line to
  // ~1.9k chars and shed the ENTIRE query map (q_omitted=213)
  test("smokeCompactJson packs stage arrays, keeps scalars, drops suffix fields") {
    val entries = Seq(
      "neardup_index" -> 162.9, "neardup_index_amb" -> 0.3,
      "neardup_index_load1" -> 7.1, "neardup_index_io_stall" -> 1.3,
      "neardup_index_io_full" -> 1.3, "neardup_index_io_rmb" -> 0.0,
      "neardup_index_io_wmb" -> 2626.2, "neardup_index_fs_wmb" -> 2623.5,
      "graph_cc" -> 128.4, "graph_cc_amb" -> 0.8, "graph_cc_io_stall" -> 0.2,
      "graph_cc_io_wmb" -> 14682.0,
      "soak_committed_rows_per_sec" -> 241000.0, "race_error" -> -1.0)
    val json = BenchLine.smokeCompactJson(50000000L, entries)
    val node = parse("{" + json.stripPrefix(",") + "}")
    assert(node.get("scale_smoke_v").asText() == "sec,amb,io_stall[,io_rmb,io_wmb]")
    val smoke = node.get("scale_smoke")
    val nd = smoke.get("neardup_index")
    assert(nd.isArray && nd.size() == 5, s"index stage wants 5 elements: $nd")
    assert(nd.get(0).asDouble() == 162.9 && nd.get(1).asDouble() == 0.3 &&
      nd.get(2).asDouble() == 1.3 && nd.get(4).asDouble() == 2626.2)
    val cc = smoke.get("graph_cc")
    assert(cc.isArray && cc.size() == 3, s"non-index stage wants 3: $cc")
    // a non-index stage's io_wmb is file-only — not a separate line field
    assert(!smoke.has("graph_cc_io_wmb") && !smoke.has("neardup_index_amb"))
    assert(smoke.get("soak_committed_rows_per_sec").asDouble() == 241000.0)
    assert(smoke.get("race_error").asDouble() == -1.0)
    assert(BenchLine.smokeCompactJson(1L, Seq.empty) == "")
  }

  test("extras commit to a prefix that reserves query-map room") {
    // a realistic r16 shape: 213 queries + a ~1.1k-char smoke segment —
    // the line must keep SOME queries (shed extras first if needed),
    // never ship q_omitted == results.size with room to spare
    val smoke = "," + "\"scale_smoke\":{" +
      (1 to 45).map(i => s""""stage$i":[12.3,0.4,0.1]""").mkString(",") + "}"
    val gate = s""","ingest_headline_gated":true,"ingest_best_ambient":1.50"""
    val sha = s""","full_map_sha256_16":"0123456789abcdef""""
    val results = (1 to 213).map(i => (f"q$i%03d_op", 1.0 + (i % 20)))
    val line = BenchLine.compact(headline("/root/testdata/sf0.1"), results,
      Seq(sha, gate, smoke))
    assert(line.length <= BenchLine.MaxLen)
    val node = parse(line)
    val kept = node.get("queries").size()
    assert(kept >= 10, s"reserve must keep a query tail, kept $kept")
    assert(node.has("full_map_sha256_16"))
  }

  test("smoke-stage error sentinels count as query errors (the red path)") {
    assert(BenchLine.smokeErrorKeys(Seq(
      "neardup_index" -> 112.0, "race_error" -> -1.0, "smoke_error" -> -1.0))
      == Seq("race_error", "smoke_error"))
    // a completed race stage is NOT an error
    assert(BenchLine.smokeErrorKeys(Seq(
      "race_soak" -> 48.7, "race_conflict_loud" -> 1.0)).isEmpty)
    // and the headline carries the count where the driver reads it
    val line = BenchLine.render(
      headline("/x").copy(queryErrors = 1), Seq("q1_a" -> 2.0),
      Seq("q1" -> "2.00"), "")
    assert(parse(line).get("query_errors").asInt() == 1)
  }
}
