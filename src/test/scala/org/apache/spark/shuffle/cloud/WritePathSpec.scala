package org.apache.spark.shuffle.cloud

import scala.collection.mutable.ArrayBuffer

import com.esotericsoftware.kryo.{Kryo, KryoSerializable}
import com.esotericsoftware.kryo.io.{Input, Output}
import org.apache.spark.{HashPartitioner, ShuffleDependency, SparkConf, SparkContext, SparkException}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.shuffle.sort.{BypassMergeSortShuffleHandle, SerializedShuffleHandle}
import org.scalatest.funsuite.AnyFunSuite

/** Partition writers offer Spark only a stream, so the serialized writer's
  * spill merge takes Spark's stream fallback, for one spill as for several;
  * a map output's commit counts as the task's shuffle write time; a map
  * task that fails mid-write leaves nothing open or stored; and an abort
  * deletes only the objects its map output created. */
class WritePathSpec extends AnyFunSuite {

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

  for (transferTo <- Seq(true, false); several <- Seq(true, false)) {
    val spills = if (several) "several spills" else "exactly one spill"
    test(s"a merge of $spills round-trips exactly (spark.file.transferTo=$transferTo)") {
      // Kryo and no aggregator select the serialized writer once bypass is
      // off; the force-spill threshold gives each map task several spills,
      // and without it the final in-memory sort is the one spill. The
      // writer merges either partition by partition
      val conf = GatedStore.localSparkConf("write-path-spec")
        .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .set("spark.shuffle.sort.bypassMergeThreshold", "1")
        .set("spark.file.transferTo", transferTo.toString)
      if (several) conf.set("spark.shuffle.spill.numElementsForceSpillThreshold", "100")
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
      metrics.foreach(m => assert((m.diskBytesSpilled > 0) == several, "spilled bytes"))
    }
  }

  test("a map task that fails mid-write leaves no open stream and no object") {
    // map-side combine selects the sort writer, which writes partition by
    // partition: the one map task opens its data object for the earlier
    // partitions before the value of key 7, in the last one, fails. A store
    // stream that can abort drops the partial upload; any other is closed,
    // which completes its upload, and the object is then deleted
    for (abortable <- Seq(true, false)) {
      val conf = GatedStore.localSparkConf("write-path-spec", GatedStore.AbortableKey -> abortable.toString)
        .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      val sc = new SparkContext(conf)
      try {
        val combined = sc.parallelize(0 until 1000, 1).map(i => (i % 8, new FailingValue(i)))
          .reduceByKey((a, b) => if (a.n > b.n) a else b, 4)
        val e = intercept[SparkException](combined.count())
        assert(e.getMessage.contains(FailingValue.Message))
        val env = CloudShuffleEnv.get()
        val store = env.fs.asInstanceOf[GatedStore]
        assert(store.openOutputs.get == 0)
        assert(store.dataPuts.get == (if (abortable) 0 else 1), s"data uploads, abortable=$abortable")
        assert(GatedStore.objects(env).isEmpty)
      } finally {
        sc.stop()
      }
    }
  }

  test("a bypass map whose input fails before its first record stores and deletes nothing") {
    // the bypass writer creates its map output writer before it reads a
    // record, and aborts it when the input throws
    val message = "input fails before its first record"
    val sc = new SparkContext(GatedStore.localSparkConf("write-path-spec"))
    try {
      val shuffled = sc.parallelize(0 until 4, 1)
        .mapPartitions[(Int, Int)](_ => Iterator.continually[(Int, Int)](throw new IllegalStateException(message)))
        .partitionBy(new HashPartitioner(4))
      val dep = shuffled.dependencies.head.asInstanceOf[ShuffleDependency[_, _, _]]
      assert(dep.shuffleHandle.isInstanceOf[BypassMergeSortShuffleHandle[_, _]])
      val e = intercept[SparkException](shuffled.count())
      assert(e.getMessage.contains(message))
      val env = CloudShuffleEnv.get()
      assert(env.fs.asInstanceOf[GatedStore].deletes.get == 0, "deletes")
      assert(GatedStore.objects(env).isEmpty)
    } finally sc.stop()
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

/** A value whose Kryo serialization fails for the last record of the last
  * key. */
class FailingValue(var n: Int) extends KryoSerializable {
  override def write(kryo: Kryo, out: Output): Unit = {
    if (n == 999) throw new IllegalStateException(FailingValue.Message)
    out.writeInt(n)
  }

  override def read(kryo: Kryo, in: Input): Unit = n = in.readInt()
}

object FailingValue {
  val Message = "value 999 refuses to serialize"
}
