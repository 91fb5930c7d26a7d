package org.apache.spark.shuffle.cloud

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{HashPartitioner, ShuffleDependency, SparkConf, SparkContext}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.shuffle.sort.SerializedShuffleHandle
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Partition writers offer Spark only a stream, so the serialized writer's
  * spill merge takes Spark's stream fallback; and a map output's commit
  * counts as the task's shuffle write time. */
class WritePathSpec extends AnyFunSuite with BeforeAndAfterEach {

  override def beforeEach(): Unit = CloudShuffleEnv.reset()

  override def afterEach(): Unit = CloudShuffleEnv.reset()

  /** Runs `job` and returns the metrics of its shuffle map tasks. */
  private def mapTaskMetrics(conf: SparkConf)(job: SparkContext => Unit): Seq[TaskMetrics] = {
    val sc = new SparkContext(conf)
    try {
      val seen = ArrayBuffer.empty[TaskMetrics]
      sc.addSparkListener(new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskType == "ShuffleMapTask") seen.synchronized(seen += e.taskMetrics)
      })
      job(sc)
      sc.listenerBus.waitUntilEmpty()
      seen.synchronized(seen.toSeq)
    } finally sc.stop()
  }

  for (transferTo <- Seq(true, false)) {
    test(s"a merge of several spills round-trips exactly (spark.file.transferTo=$transferTo)") {
      // Kryo and no aggregator select the serialized writer once bypass is
      // off; the force-spill threshold gives each map task several spills,
      // which the writer merges partition by partition
      val conf = GatedStore.localSparkConf("write-path-spec")
        .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .set("spark.shuffle.sort.bypassMergeThreshold", "1")
        .set("spark.shuffle.spill.numElementsForceSpillThreshold", "100")
        .set("spark.file.transferTo", transferTo.toString)
      val n = 4000
      val metrics = mapTaskMetrics(conf) { sc =>
        val shuffled = sc.parallelize(0 until n, 4).map(i => (i, s"value-$i"))
          .partitionBy(new HashPartitioner(4))
        val dep = shuffled.dependencies.head.asInstanceOf[ShuffleDependency[_, _, _]]
        assert(dep.shuffleHandle.isInstanceOf[SerializedShuffleHandle[_, _]])
        val rows = shuffled.collect()
        assert(rows.sortBy(_._1).toSeq == (0 until n).map(i => (i, s"value-$i")))
      }
      assert(metrics.size == 4)
      // a forced spill is counted; the final in-memory sort is not
      metrics.foreach(m => assert(m.diskBytesSpilled > 0, "no map task spilled"))
    }
  }

  test("a map output's commit counts as shuffle write time") {
    // every PUT lands 200 ms after its close starts, so each commit takes at
    // least that long; a map task's record writes alone take far less
    val delayMs = 200L
    val conf = GatedStore.localSparkConf("write-path-spec",
      GatedStore.CloseDelayKey -> delayMs.toString)
    val metrics = mapTaskMetrics(conf) { sc =>
      val data = sc.parallelize(0 until 1000, 4).map(i => (i % 10, i.toLong))
      assert(data.partitionBy(new HashPartitioner(4)).count() == 1000) // bypass writer
      assert(data.reduceByKey(_ + _, 4).count() == 10) // sort writer
    }
    assert(metrics.size == 8)
    metrics.foreach { m =>
      val ms = m.shuffleWriteMetrics.writeTime / 1000000
      assert(ms >= delayMs, s"write time $ms ms")
    }
  }
}
