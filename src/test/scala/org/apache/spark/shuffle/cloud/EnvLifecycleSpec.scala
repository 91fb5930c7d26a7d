package org.apache.spark.shuffle.cloud

import java.net.URI
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.scalatest.funsuite.AnyFunSuite

/** The env lives exactly as long as one SparkContext's shuffle manager:
  * stopping the context shuts the env's pools and closes its FS, the next
  * context in the JVM builds its own env from its own conf, and with no
  * cloud manager running there is no env to get. A context that leaves
  * `spark.shuffle.sort.io.plugin.class` unset still gets the plugin's driver
  * components, which delete the app's folders when it stops. */
class EnvLifecycleSpec extends AnyFunSuite {

  private val n = 2000

  private val expected = (0 until n).groupBy(_ % 7).map { case (k, vs) => k -> vs.map(_.toLong).sum }

  private def sums(sc: SparkContext): Map[Int, Long] =
    sc.parallelize(0 until n, 4).map(i => (i % 7, i.toLong)).reduceByKey(_ + _, 3).collect().toMap

  test("stopping the context shuts the env's fetch and I/O pools and closes its FS") {
    val sc = new SparkContext(GatedStore.localSparkConf("env-lifecycle-spec"))
    val env =
      try {
        assert(sums(sc) == expected)
        CloudShuffleEnv.get()
      } finally sc.stop()
    assert(env.fetchPool.isShutdown, "fetch pool")
    assert(env.ioPool.isShutdown, "I/O pool")
    assert(env.fs.asInstanceOf[GatedStore].closed, "FS")
  }

  test("a second context writes under its own root and validates with its own algorithm") {
    def conf(algorithm: String) = GatedStore.localSparkConf("env-lifecycle-spec")
      .set(CloudShuffleEnv.VALIDATE_KEY, "true")
      .set("spark.shuffle.checksum.algorithm", algorithm)
    val firstConf = conf("ADLER32")
    val first = new SparkContext(firstConf)
    try assert(sums(first) == expected) finally first.stop()
    val firstRoot = firstConf.get(CloudShuffleEnv.ROOT_DIR_KEY)

    val secondConf = conf("CRC32")
    val second = new SparkContext(secondConf)
    try {
      // a reader validating with the first context's ADLER32 would reject
      // every CRC32 checksum the second context's writers store
      assert(sums(second) == expected)
      val env = CloudShuffleEnv.get()
      assert(env.rootDir == secondConf.get(CloudShuffleEnv.ROOT_DIR_KEY).stripSuffix("/"))
      assert(env.rootDir != firstRoot.stripSuffix("/"))
      assert(env.checksumAlgorithm == "CRC32" && env.validateChecksums)
      assert(GatedStore.objects(env).exists(_.contains(".checksum")))
      assert(GatedStore.objects(firstRoot).isEmpty, "nothing under the first context's root")
    } finally second.stop()
  }

  test("a context without the ShuffleDataIO key loads the plugin's driver components, " +
      "which delete the app's folders at stop") {
    val conf = GatedStore.localSparkConf("env-lifecycle-spec")
    assert(!conf.contains("spark.shuffle.sort.io.plugin.class"))
    val root = Paths.get(URI.create(conf.get(CloudShuffleEnv.ROOT_DIR_KEY)).getPath)
    val sc = new SparkContext(conf)
    val appId = sc.applicationId
    def appFolders(): Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(p => Files.isDirectory(p) && p.getFileName.toString == appId).toSeq
      finally walk.close()
    }
    try {
      assert(sc.shuffleDriverComponents.isInstanceOf[CloudDriverComponents],
        sc.shuffleDriverComponents.getClass.getName)
      assert(sums(sc) == expected)
      assert(appFolders().nonEmpty, "the shuffle wrote under the app's folders")
    } finally sc.stop()
    assert(appFolders().isEmpty, appFolders().mkString(", "))
  }

  test("get() with no cloud shuffle manager running names spark.shuffle.manager") {
    // a context that ran a shuffle and stopped leaves no env behind
    val sc = new SparkContext(GatedStore.localSparkConf("env-lifecycle-spec"))
    try assert(sums(sc) == expected) finally sc.stop()
    val ex = intercept[IllegalStateException](CloudShuffleEnv.get())
    assert(ex.getMessage.contains("spark.shuffle.manager"), ex.getMessage)
  }
}
