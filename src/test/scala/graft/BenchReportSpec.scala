package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.BenchRunner._

/** The report contract of `graft.Bench` and `graft.BenchStream`, over
  * synthetic stats: the key sets readers parse, failure accounting, the
  * re-measure splice and the stdout line's byte budget. No SparkSession. */
class BenchReportSpec extends AnyFunSuite {

  private def json(s: String): JsonNode = new ObjectMapper().readTree(s)

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  private def stat(med: Double): Stat = Stat(med, med * 0.9, med * 0.2, med * 1.5, 1000L, 900L)

  private val plugin = Map("q01_pricing_summary" -> stat(2.0), "q05_regional_revenue" -> stat(3.0),
    "dd04_minhash_lsh_pairs" -> Failed)
  private val default = Map("q01_pricing_summary" -> stat(1.8), "q05_regional_revenue" -> Failed,
    "dd04_minhash_lsh_pairs" -> stat(4.0))
  private val sweep = Sweep(plugin, default, med0 = Map("q01_pricing_summary" -> 2.5),
    defaultMed0 = Map("q01_pricing_summary" -> 2.2))

  private val abKeys = Set("default_total", "default_failed", "ab_order", "plugin_overhead_med",
    "plugin_overhead_p90")
  private val detailKeys = Set("med_s", "min_s", "spread_s", "first_pass_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "default_med_s", "plugin_overhead")

  test("Bench's line and bench.json carry exactly the contracted keys") {
    val (line, rich) = benchReport(sweep, "/data/sf0.1")
    assert(keys(json(line)) == Set("metric", "value", "unit", "method", "failed", "noise", "requeried", "slow",
      "queries", "sf") ++ abKeys)
    val r = json(rich)
    assert(keys(r) == Set("metric", "value", "unit", "queries", "sf", "method", "failed", "shuffle_write_bytes",
      "shuffle_read_bytes", "detail") ++ abKeys)
    assert(keys(r.get("detail").get("q01")) == detailKeys ++ Set("med0_s", "default_med0_s"))
    assert(keys(r.get("detail").get("q05")) == detailKeys)
    assert(keys(json(benchReport(Sweep(plugin), "/d")._1)) ==
      Set("metric", "value", "unit", "method", "failed", "noise", "slow", "queries", "sf"))
  }

  test("BenchStream's line and a scaleprobe row carry exactly the contracted keys") {
    val line = json(streamReport(sweep, "/data/sf0.01", 0.5, Some("/tmp/sf1" -> plugin)))
    assert(keys(line) == Set("metric", "value", "unit", "method", "failed", "harness_prestage_s", "queries", "sf",
      "sf1_dir", "queries_sf1", "detail") ++ abKeys)
    assert(keys(line.get("detail").get("q05")) == detailKeys)
    val censused = Sweep(Map("st01_stream_x" -> stat(1.0).copy(census = Seq("batches" -> 4L,
      "state_rows_max" -> 10L, "state_mem_max_bytes" -> 2048L))))
    assert(keys(json(streamReport(censused, "/d", 0.5, None)).get("detail").get("st01")) ==
      Set("med_s", "min_s", "spread_s", "first_pass_s", "shuffle_write_bytes", "shuffle_read_bytes", "batches",
        "state_rows_max", "state_mem_max_bytes"))
    val row = json(scaleRow("sf1_exact", "q01_pricing_summary", stat(2.0).copy(rows = 42L)))
    assert(keys(row) == Set("tier", "query", "rows", "wall_s", "shuffle_w_mb", "shuffle_r_mb"))
    assert(row.get("rows").asLong == 42L && row.get("wall_s").asDouble == 2.0)
    val report = json(scaleReport(Seq("sf0.1"), Seq("q01@sf0.1" -> "a note"), Seq(scaleRow("sf0.1", "q01", stat(1)))))
    assert(keys(report) == Set("metric", "method", "tiers", "notes", "rows"))
  }

  test("a failed query reads -1, is named and stays out of the total") {
    val (line, rich) = benchReport(sweep, "/d")
    for (r <- Seq(json(line), json(rich))) {
      assert(r.get("queries").get("dd04").asDouble == -1.0)
      assert(r.get("failed").elements().asScala.map(_.asText).toSeq == Seq("dd04"))
      assert(r.get("default_failed").elements().asScala.map(_.asText).toSeq == Seq("q05"))
      assert(r.get("value").asDouble == 5.0)
      assert(r.get("default_total").asDouble == 5.8)
    }
    assert(json(rich).get("detail").get("dd04").get("plugin_overhead").asDouble == -1.0)
    val stream = json(streamReport(sweep, "/d", 0.5, None))
    assert(stream.get("value").asDouble == 5.0)
    assert(stream.get("failed").elements().asScala.map(_.asText).toSeq == Seq("dd04"))
  }

  test("the re-measure splice keeps a same-session plugin/default pair") {
    val p0 = Map("a" -> stat(2.0), "b" -> stat(2.0), "c" -> stat(2.0))
    val d0 = Map("a" -> stat(2.0), "b" -> stat(2.0), "c" -> stat(2.0))
    // a: plugin slower but the pair faster -> both taken from the re-run;
    // b: plugin faster but the pair slower -> neither; c: failed re-run
    val p2 = Map("a" -> stat(2.1), "b" -> stat(1.0), "c" -> Failed)
    val d2 = Map("a" -> stat(1.0), "b" -> stat(3.5), "c" -> stat(0.5))
    val sw = splice(p0, d0, p2, d2, "default-first")
    assert(sw.plugin("a") == p2("a") && sw.default("a") == d2("a"))
    assert(sw.plugin("b") == p0("b") && sw.default("b") == d0("b"))
    assert(sw.plugin("c") == p0("c") && sw.default("c") == d0("c"))
    assert(sw.med0 == Map("a" -> 2.0) && sw.defaultMed0 == Map("a" -> 2.0))
    assert(sw.order == "default-first")
    // plugin lane only: the lower plugin median wins
    assert(keepRerun(2.0, 1.5, -1.0, -1.0) && !keepRerun(2.0, 2.5, -1.0, -1.0))
    // a default failing in one run only keeps run 1's pair
    assert(!keepRerun(2.0, 1.0, 2.0, -1.0) && !keepRerun(2.0, 1.0, -1.0, 2.0))
  }

  test("the stdout line sheds slow entries before it passes 1,900 bytes") {
    def sweepOf(n: Int) = Sweep((1 to n).map(i => f"x$i%04d_query" -> stat(1.0 + i)).toMap)
    val lines = (20 to 160).map { n =>
      val line = benchReport(sweepOf(n), "/d")._1
      (line.length, json(line).get("slow").size)
    }
    assert(lines.head._2 == 8)
    lines.foreach { case (bytes, slow) => assert(bytes <= 1900 || slow == 0, s"$bytes bytes, $slow slow") }
    val sizes = lines.map(_._2)
    assert(sizes.exists(s => s > 0 && s < 8), "no sweep size made the line shed some slow entries")
    assert(sizes == sizes.sorted.reverse, "a longer sweep kept more slow entries")
  }
}
