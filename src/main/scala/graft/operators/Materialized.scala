package graft.operators

import org.apache.spark.sql.SparkSession

/** The operator layer's one memo registry: built-once/served-many
  * artifacts (trained codebooks, materialized indexes, staged tables,
  * opened index DataFrames) keyed on what they were built FROM.
  *
  * A key is (artifact name, input path, input fingerprint, parameters),
  * plus the session uid for values bound to one session. The input is the
  * table the artifact reads (`Tables.path(d, name)`, so the path names the
  * fixture dir). The fingerprint is a driver-side recursive Hadoop
  * listing of the input — each file's path, length and modification time
  * — re-read on every call and running no Spark job (the metadata
  * discipline of `Clustering.corpusCountFor`). A rewritten input
  * therefore gets a new key and a rebuilt artifact, never a stale one;
  * unchanged inputs are served what was built before.
  *
  * Builds run outside the map's bin lock, through a per-key lazy cell:
  * one build per key however many callers race on it, builds may nest
  * (`Clustering.hotCellsFor` builds `codebookFor`), and a failed build
  * leaves no cell behind. Directory artifacts live in temp dirs deleted at
  * JVM exit: they outlive single queries by design (that is the point of
  * an index) but must not accumulate across runs.
  */
private[operators] object Materialized {

  private final case class Key(name: String, input: String,
      fingerprint: Seq[(String, Long, Long)], params: Seq[Any], session: Option[String])

  private final class Cell(build: () => AnyRef) {
    lazy val value: AnyRef = build()
  }

  private val cells = new java.util.concurrent.ConcurrentHashMap[Key, Cell]()

  /** The value `build` returns for these inputs, built on first use. */
  def value[A <: AnyRef](s: SparkSession, name: String, input: String, params: Any*)(
      build: => A): A =
    memo(Key(name, input, fingerprint(s, input), params, None))(build)

  /** [[value]] for values bound to `s` (DataFrames, checkpointed RDDs):
    * never shared with another session. */
  def sessionValue[A <: AnyRef](s: SparkSession, name: String, input: String, params: Any*)(
      build: => A): A =
    memo(Key(name, input, fingerprint(s, input), params, Some(sessionKey(s))))(build)

  /** A temp directory that `build` fills for these inputs, built on first
    * use and deleted at JVM exit. */
  def dir(s: SparkSession, name: String, input: String)(build: String => Unit): String =
    value(s, name, input) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))))
      build(dir)
      dir
    }

  private def memo[A <: AnyRef](key: Key)(build: => A): A = {
    val cell = cells.computeIfAbsent(key, _ => new Cell(() => build))
    try cell.value.asInstanceOf[A]
    catch {
      case t: Throwable =>
        cells.remove(key, cell)
        throw t
    }
  }

  /** (path, length, modification time) of every file under `input`,
    * sorted; a missing input fails here, before any build. */
  private def fingerprint(s: SparkSession, input: String): Seq[(String, Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(input)
    val listed = root.getFileSystem(s.sessionState.newHadoopConf()).listFiles(root, true)
    Iterator.continually(listed).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
  }

  /** Stable key for session-bound entries: the engine's `sessionUUID` is
    * unique for the JVM's lifetime, where an identity hash can be reused
    * after a session is GC'd and hand a new session a dead one's
    * checkpointed RDDs or unusable DataFrames. */
  private def sessionKey(s: SparkSession): String =
    org.apache.spark.sql.graft.SessionUid.of(s)
}
