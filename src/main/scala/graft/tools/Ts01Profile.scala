package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev probe (VERDICT r13 item 3): attribute ts01's plugin overhead — the
  * sweep's purest shuffle workload (79 MB through one sort exchange) read
  * 1.48× the default manager idle. Runs ts01 under plugin-conf VARIANTS
  * (each its own session/app — the env singleton re-keys per app id),
  * bracketing with the baseline to bound JIT drift, and prints wall
  * med-of-3 + task-metric components per variant. Usage:
  *   sbt "runMain graft.tools.Ts01Profile [sfDir]"
  */
object Ts01Profile {

  private class Acc extends SparkListener {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shufWriteMs = 0L; var fetchWaitMs = 0L
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        tasks += 1; runMs += m.executorRunTime; gcMs += m.jvmGCTime
        shufWriteMs += m.shuffleWriteMetrics.writeTime / 1000000L
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
    def reset(): Unit = synchronized {
      tasks = 0; runMs = 0; gcMs = 0; shufWriteMs = 0; fetchWaitMs = 0 }
    def line: String = synchronized {
      s"tasks=$tasks run=${runMs}ms gc=${gcMs}ms " +
        s"shufWrite=${shufWriteMs}ms fetchWait=${fetchWaitMs}ms" }
  }

  private def lane(label: String, sfDir: String, plugin: Boolean,
      extra: Map[String, String]): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), plugin)
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    graft.Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").count().count() // warmup
    val walls = (1 to 3).map { _ =>
      System.gc()
      acc.reset()
      val t0 = System.nanoTime()
      SparkEntry.queries("ts01_terasort")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val w = (System.nanoTime() - t0) / 1e6
      Thread.sleep(150)
      println(f"[ts01] $label wall=${w}%.0fms ${acc.line}")
      w
    }
    println(f"[ts01] $label MED=${walls.sorted.apply(1)}%.0fms")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    lane("plugin-base1    ", sfDir, plugin = true, Map.empty)
    lane("default         ", sfDir, plugin = false, Map.empty)
    lane("no-prefetch     ", sfDir, plugin = true,
      Map("spark.shuffle.cloud.prefetch" -> "false"))
    lane("conc32          ", sfDir, plugin = true,
      Map("spark.shuffle.cloud.maxConcurrencyTask" -> "32"))
    lane("writebuf128k    ", sfDir, plugin = true,
      Map("spark.shuffle.cloud.writeBufferSize" -> "128k"))
    lane("readbuf64k      ", sfDir, plugin = true,
      Map("spark.shuffle.cloud.readBufferSize" -> "64k"))
    lane("plugin-base2    ", sfDir, plugin = true, Map.empty)
    lane("default2        ", sfDir, plugin = false, Map.empty)
  }
}
