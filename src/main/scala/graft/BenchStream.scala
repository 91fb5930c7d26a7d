package graft

import graft.BenchRunner._

/** Drain timings of the streaming queries (`runMain graft.BenchStream [tier]`):
  * the st family plus the drains living in other modules (pp02, dd14, ss09),
  * which `graft.Bench` leaves out. A stateful micro-batch pipeline shuffles
  * in a pattern batch A/B cannot see (many tiny per-batch shuffles plus the
  * state store's exchange), so the plugin/default lanes run here too.
  *
  *  - `base` (the default): the drains on `SPARK_GRAFT_SF_DIR` (sf0.01).
  *  - `scale`: the same lanes on the derived ×10 streaming tier, each drain
  *    also reporting micro-batches and peak state rows and memory.
  *
  * `SPARK_GRAFT_AB=0` runs the plugin lane only; `SPARK_GRAFT_AB_ORDER` sets
  * the lane order. One JSON line on stdout and `target/bench_stream.json`.
  */
object BenchStream {
  def main(args: Array[String]): Unit = {
    val set = settings(args)
    val scale = set.tier == "scale"
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => SparkEntry.streamingQueries(q._1))
    requireUniqueShortIds(ordered.map(_._1))
    val warm = ("events", "event_type")
    // built before any lane, so no median carries the one-time build
    val sfDir = if (scale) withSession(set.cpus, plugin = true, Tiers("sf0.1"), warm)(tier(_, "sf1_stream"))
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Tiers("sf0.01"))
    var harness = -1.0
    val sw = sweep(set) { plugin =>
      withSession(set.cpus, plugin, sfDir, warm) { s =>
        // the sentineled source dir that st06-st09 drain is staged once per
        // fixture and billed here, as its own number
        val t0 = System.nanoTime()
        operators.StreamingQueries.sentineledSrcDir(s, sfDir)
        if (harness < 0) harness = (System.nanoTime() - t0) / 1e9
        runLane(s, sfDir, ordered, census = scale)
      }
    }
    val line = streamReport(sw, sfDir, harness)
    write("target/bench_stream.json", line)
    println(line)
  }
}
