package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.BenchRunner._

/** The report contract of `graft.Bench` and `graft.BenchStream`, over
  * synthetic stats: the key sets readers parse, the pass seconds, failure
  * accounting and the stdout line's byte budget. No SparkSession. */
class BenchReportSpec extends AnyFunSuite {

  private def json(s: String): JsonNode = new ObjectMapper().readTree(s)

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  // passes in run order: pass 1 the slowest, the median last
  private def stat(med: Double): Stat = Stat(Seq(med * 1.5, med * 0.9, med), 1000L, 900L)

  private val plugin = Map("q01_pricing_summary" -> stat(2.0), "q05_regional_revenue" -> stat(3.0),
    "dd04_minhash_lsh_pairs" -> Failed)
  private val default = Map("q01_pricing_summary" -> stat(1.8), "q05_regional_revenue" -> Failed,
    "dd04_minhash_lsh_pairs" -> stat(4.0))
  private val sweep = Sweep(plugin, default)

  private val abKeys = Set("default_total", "default_failed", "ab_order", "plugin_overhead_med",
    "plugin_overhead_p90")
  private val detailKeys = Set("med_s", "min_s", "spread_s", "first_pass_s", "pass_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "default_med_s", "plugin_overhead")

  test("Bench's line and bench.json carry exactly the contracted keys") {
    val (line, rich) = benchReport(sweep, "/data/sf0.1")
    assert(keys(json(line)) == Set("metric", "value", "unit", "method", "failed", "noise", "slow", "queries",
      "sf") ++ abKeys)
    val r = json(rich)
    assert(keys(r) == Set("metric", "value", "unit", "queries", "sf", "method", "failed", "shuffle_write_bytes",
      "shuffle_read_bytes", "detail") ++ abKeys)
    assert(keys(r.get("detail").get("q01")) == detailKeys)
    assert(keys(r.get("detail").get("q05")) == detailKeys)
    // pass_s: the three passes in run order, whose median and minimum are
    // med_s and min_s; a failed query has none and still reads -1
    val q01 = r.get("detail").get("q01")
    val passes = q01.get("pass_s").elements().asScala.map(_.asDouble).toSeq
    assert(passes == Seq(3.0, 1.8, 2.0))
    assert(passes.sorted.apply(1) == q01.get("med_s").asDouble && passes.min == q01.get("min_s").asDouble)
    assert(passes.head == q01.get("first_pass_s").asDouble)
    val dd04 = r.get("detail").get("dd04")
    assert(dd04.get("pass_s").isArray && dd04.get("pass_s").size == 0 && dd04.get("med_s").asDouble == -1.0)
    assert(keys(json(benchReport(Sweep(plugin), "/d")._1)) ==
      Set("metric", "value", "unit", "method", "failed", "noise", "slow", "queries", "sf"))
  }

  test("BenchStream's line and a scaleprobe row carry exactly the contracted keys") {
    val line = json(streamReport(sweep, "/data/sf0.01", 0.5))
    assert(keys(line) == Set("metric", "value", "unit", "method", "failed", "harness_prestage_s", "queries", "sf",
      "detail") ++ abKeys)
    assert(keys(line.get("detail").get("q05")) == detailKeys)
    val censused = Sweep(Map("st01_stream_x" -> stat(1.0).copy(census = Seq("batches" -> 4L,
      "state_rows_max" -> 10L, "state_mem_max_bytes" -> 2048L))))
    assert(keys(json(streamReport(censused, "/d", 0.5)).get("detail").get("st01")) ==
      Set("med_s", "min_s", "spread_s", "first_pass_s", "pass_s", "shuffle_write_bytes", "shuffle_read_bytes",
        "batches", "state_rows_max", "state_mem_max_bytes"))
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
    val stream = json(streamReport(sweep, "/d", 0.5))
    assert(stream.get("value").asDouble == 5.0)
    assert(stream.get("failed").elements().asScala.map(_.asText).toSeq == Seq("dd04"))
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
