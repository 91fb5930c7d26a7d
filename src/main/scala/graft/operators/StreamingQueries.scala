package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Streaming operators surfaced as ORACLE-GATED queries: each entry runs a
  * real Structured Streaming job over the events fixture — file source →
  * watermarked stateful aggregation → memory sink — with
  * `Trigger.AvailableNow` draining the source and COMPLETE output mode
  * emitting every window. The final table therefore equals the batch
  * aggregation of the same data, which a DuckDB oracle can check exactly:
  * the streaming execution path (state store, watermarks, per-microbatch
  * shuffles through the cloud plugin) is what's being verified.
  *
  * Scale: state is bounded by the watermark in production (append mode);
  * complete mode here is the verification harness, not the deployment
  * shape — StreamingOps + StreamingSpec cover append/update semantics.
  */
object StreamingQueries {

  // st08's typed plumbing: input row, per-user open-session state, and
  // emitted session record for flatMapGroupsWithState
  private[graft] case class SessEvent(user_id: Long,
    ts: java.sql.Timestamp, value: Double)
  private[graft] case class SessState(startUs: Long, lastUs: Long,
    n: Long, sumCents: Long)
  private[graft] case class SessBuf(open: Seq[SessState])
  private[graft] case class SessOut(user_id: Long,
    session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
    n_events: Long, session_value: Double)

  private def tsUs(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private def usToTs(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** The watermark-final sessionization CORE, shared by st08
    * (flatMapGroupsWithState) and st09 (transformWithState) — one state
    * machine, two arbitrary-state APIs, so the semantics cannot drift:
    * the batch folds into its own gaps-and-islands sessions (sorted
    * first — group iterators carry no order guarantee), merges with
    * every undecided session in state by the interval-gap rule (min
    * start / max end, so a watermark-admitted out-of-order event can
    * extend a session backwards or BRIDGE two of them), and a session is
    * emitted only once the watermark proves it final: watermark >
    * last + gap means any still-admissible event has ts ≥ watermark >
    * last + gap and can neither extend nor bridge it. Value sums
    * accumulate as exact integer cents (each value cast with Spark's
    * double→decimal HALF_UP semantics), so the emitted session_value is
    * order-independent and engine-exact — together these make the
    * drained table equal the batch gaps-and-islands SQL for ANY
    * watermark-admitted arrival order, not just single-batch fixtures.
    *
    * Finality is compared in MICROseconds: the ts column is
    * micro-precision, and flooring last+gap to ms would declare a
    * session final up to ~1ms before the watermark strictly clears it —
    * an admissible sub-ms arrival in that window would then wrongly open
    * a new session. STRICTNESS invariant: a session whose
    * end+gap lands EXACTLY on the final watermark ms (==) stays open
    * forever — the ceil'd timer reschedules to wm+1, which never comes
    * once the stream ends. Emission therefore requires the end-of-stream
    * watermark to advance STRICTLY past every session end; the drain
    * harness guarantees it structurally (sentinel events sit years past
    * the fixture tail), and a production caller owns the same contract:
    * feed a closing event past max(ts)+gap, as any watermark-final
    * emission needs.
    *
    * Returns (final sessions to emit, still-open sessions for state, the
    * ms timestamp for the next event-time timer — the oldest undecided
    * session's finality point, ceil'd to ms so the timer can never fire
    * before micro-precision finality holds, clamped above the watermark
    * because Spark rejects timers at/behind it; 0 when nothing stays
    * open). */
  private[graft] def sessionStep(gapUs: Long, prior: Seq[SessState],
      evs: Seq[SessEvent], wmMs: Long)
      : (List[SessState], List[SessState], Long) = {
    var batch = List.empty[SessState]
    for (e <- evs.sortBy(e => tsUs(e.ts))) {
      val us = tsUs(e.ts)
      val cents = java.math.BigDecimal.valueOf(e.value)
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact()
      batch = batch match {
        case h :: t if us - h.lastUs <= gapUs =>
          SessState(h.startUs, us, h.n + 1, h.sumCents + cents) :: t
        case other =>
          SessState(us, us, 1L, cents) :: other
      }
    }
    val merged = (prior ++ batch.reverse)
      .sortBy(_.startUs)
      .foldLeft(List.empty[SessState]) { (acc, s2) =>
        acc match {
          case h :: t if s2.startUs - h.lastUs <= gapUs =>
            SessState(h.startUs, math.max(h.lastUs, s2.lastUs),
              h.n + s2.n, h.sumCents + s2.sumCents) :: t
          case _ => s2 :: acc
        }
      }.reverse
    val (fin, open) = merged.partition(st =>
      st.lastUs + gapUs < wmMs * 1000L)
    val timerMs = if (open.isEmpty) 0L
      else math.max((open.map(_.lastUs).min + gapUs + 999L) / 1000L, wmMs + 1L)
    (fin, open, timerMs)
  }

  private def emitSession(user: Long)(st: SessState): SessOut =
    SessOut(user, usToTs(st.startUs), usToTs(st.lastUs), st.n,
      st.sumCents / 100.0)

  /** st08's state machine: `sessionStep` driven through the
    * flatMapGroupsWithState API (GroupState + event-time timeouts). */
  private[graft] def sessionize(gapUs: Long)(user: Long, it: Iterator[SessEvent],
      state: org.apache.spark.sql.streaming.GroupState[SessBuf])
      : Iterator[SessOut] = {
    val (fin, open, timerMs) = sessionStep(gapUs,
      state.getOption.map(_.open).getOrElse(Seq.empty),
      it.toIndexedSeq, state.getCurrentWatermarkMs())
    if (open.nonEmpty) {
      state.update(SessBuf(open))
      state.setTimeoutTimestamp(timerMs)
    } else {
      state.remove()
    }
    fin.map(emitSession(user)).iterator
  }

  /** st09's state machine: the SAME `sessionStep`, driven through
    * transformWithState — Spark 4.x's production arbitrary-state API
    * (typed per-key state handles + explicit timer registry, RocksDB-only
    * by design). Per-key open sessions live in ONE ValueState; one
    * event-time timer per key fires at the oldest undecided session's
    * finality point, and both entry points (input rows, expired timer)
    * funnel into the shared step so the two APIs cannot diverge. The
    * timer registry is explicitly reconciled to ≤1 live timer per key —
    * unlike GroupState's single implicit timeout, TWS accumulates every
    * registered timer until deleted, and a stale earlier timer would
    * only cost a harmless extra no-op invocation, but the reconcile
    * keeps the per-key state-store footprint constant.
    *
    * The core is a mixin so the plain processor and the
    * initial-state-bootstrapped one (below) share every line of logic. */
  private[graft] trait TwsSessionCore {
    self: org.apache.spark.sql.streaming.StatefulProcessor[Long, SessEvent, SessOut] =>
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
      TTLConfig, TimeMode, TimerValues, ValueState}
    protected def gapUs: Long
    @transient protected var open: ValueState[SessBuf] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessBuf]("open",
        org.apache.spark.sql.Encoders.product[SessBuf], TTLConfig.NONE)
    protected def step(user: Long, evs: Seq[SessEvent], wmMs: Long,
        firedMs: Long = Long.MinValue): Iterator[SessOut] = {
      val prior = if (open.exists()) open.get().open else Seq.empty[SessState]
      val (fin, opens, timerMs) = sessionStep(gapUs, prior, evs, wmMs)
      // the engine removes a FIRED timer itself — deleting it again only
      // logs a warning per key per batch; reconcile the others
      getHandle.listTimers().toList.filterNot(_ == firedMs)
        .foreach(getHandle.deleteTimer)
      if (opens.nonEmpty) {
        open.update(SessBuf(opens))
        getHandle.registerTimer(timerMs)
      } else open.clear()
      fin.map(emitSession(user)).iterator
    }
    override def handleInputRows(user: Long, rows: Iterator[SessEvent],
        tv: TimerValues): Iterator[SessOut] =
      step(user, rows.toIndexedSeq, tv.getCurrentWatermarkInMs())
    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessOut] =
      step(user, Seq.empty, tv.getCurrentWatermarkInMs(),
        firedMs = info.getExpiryTimeInMs)
  }

  private[graft] class TwsSessionProcessor(protected val gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessEvent, SessOut]
      with TwsSessionCore

  /** The state-BOOTSTRAP variant: a production pipeline starting
    * continuous sessionization over a stream with years of history does
    * not replay the history through the stream — it batch-computes each
    * key's open-session buffer (the same `sessionStep`, run once over
    * the historical events with the cutover watermark) and hands it to
    * transformWithState as initial state. handleInitialState seeds the
    * ValueState and registers the finality timer exactly as a live batch
    * would, so a bootstrapped job is indistinguishable from one that
    * streamed the history — TwsBootstrapSpec proves it: batch-seeded
    * state + streamed tail == one full streaming run, row-identical. */
  private[graft] class TwsSessionProcessorWithInit(protected val gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, SessEvent, SessOut, SessBuf]
      with TwsSessionCore {
    override def handleInitialState(user: Long, st: SessBuf,
        tv: org.apache.spark.sql.streaming.TimerValues): Unit =
      if (st.open.nonEmpty) {
        open.update(st)
        getHandle.registerTimer(math.max(
          (st.open.map(_.lastUs).min + gapUs + 999L) / 1000L,
          tv.getCurrentWatermarkInMs() + 1L))
      }
  }

  /** Batch half of the bootstrap: fold the history into sessions at the
    * cutover watermark, returning (emitted-final sessions, per-key open
    * buffers to seed the stream).
    *
    * DECLARATIVE, not mapGroups: a backfill over 100 TB of history
    * cannot materialize one key's events in executor memory (one bot
    * user = one OOM), so the gaps-and-islands fold is expressed as a
    * window (lag → break flags → running session id) + aggregation —
    * Spark's window sort is external and spills, and the per-session
    * aggregate is partial→final. The arithmetic is the ORACLE's own:
    * each value cast to DECIMAL(18,2) (HALF_UP, exactly the
    * BigDecimal-cents path sessionStep takes) and summed exactly, so
    * the batch half produces bit-identical session_value to both the
    * streamed half and DuckDB. Only the OPEN buffers — sessions still
    * within the watermark horizon, a bounded tail per user — are
    * collect_list'd into the seed rows. */
  /** The backfill's session table as a LAZY plan (split out so
    * TwsBootstrapSpec can plan-guard it: exactly one Window, no typed
    * MapGroups — the declarative/spill-safe claim, enforced). */
  private[graft] def backfillSessions(history: org.apache.spark.sql.Dataset[SessEvent],
      gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("us")
    history.toDF()
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("brk", when(col("prev_us").isNull ||
        col("us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("startUs"), max(col("us")).as("lastUs"),
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sumDec"))
  }

  private[graft] def bootstrapSessions(history: org.apache.spark.sql.Dataset[SessEvent],
      gapUs: Long, wmMs: Long)
      : (org.apache.spark.sql.Dataset[SessOut], org.apache.spark.sql.Dataset[(Long, SessBuf)]) = {
    import history.sparkSession.implicits._
    // localCheckpoint, not cache: eager one-shot materialization whose
    // blocks the ContextCleaner reclaims when the Dataset goes out of
    // scope — repeated verify/bench passes must not accumulate
    // CacheManager entries for a per-run throwaway
    val sess = backfillSessions(history, gapUs).localCheckpoint()
    val fin = sess.filter(col("lastUs") + gapUs < wmMs * 1000L)
      .select(col("user_id"),
        timestamp_micros(col("startUs")).as("session_start"),
        timestamp_micros(col("lastUs")).as("session_end"),
        col("n").as("n_events"),
        col("sumDec").cast(DoubleType).as("session_value"))
      .as[SessOut]
    val seed = sess.filter(col("lastUs") + gapUs >= wmMs * 1000L)
      .withColumn("cents", (col("sumDec") * 100).cast("long"))
      .groupBy(col("user_id"))
      // tuple encoders resolve fields by _N name, hence the aliases
      .agg(collect_list(struct(col("startUs").as("_1"), col("lastUs").as("_2"),
        col("n").as("_3"), col("cents").as("_4"))).as("open"))
      .select(col("user_id").as("_1"), col("open").as("_2"))
      .as[(Long, Seq[(Long, Long, Long, Long)])]
      .map { case (user, open) => (user, SessBuf(open.sortBy(_._1)
        .map(t => SessState(t._1, t._2, t._3, t._4)))) }
    (fin, seed)
  }

  /** Streaming-read the events fixture, converting the `ts` column through
    * the SAME normalizer Tables.load uses for batch (Tables.normalizeEventsTs
    * — one shared match over all three physical encodings). */
  private def streamEvents(s: SparkSession, d: String): DataFrame = {
    val rawSchema = s.read.parquet(s"$d/events.parquet").schema
    // the fixture is a single file and the file streaming source wants a
    // directory: stream the parent with a glob pinned to this fixture
    Tables.normalizeEventsTs(s.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d))
  }

  /** Drain `df` through a complete-mode memory sink and return the result
    * as a local DataFrame. Unique sink/checkpoint names per invocation
    * keep repeated runs (bench passes) independent; the checkpoint dir and
    * the memory-sink temp view are torn down before returning (the sink's
    * rows live on the driver either way), so repeated verify/bench runs
    * don't accumulate /tmp state or driver memory. */
  // State fan-out for the drains. A stateful microbatch pays a fixed cost
  // PER STATE PARTITION per batch (store open + delta commit + rename — a
  // stream-stream join alone keeps 4 stores per partition), so the
  // session's batch-sized 32 shuffle partitions bill ~160 store commits
  // per microbatch to queries whose whole state fits in a few MB. Sizing
  // state partitions to the load is exactly what a production streaming
  // job does (the knob is baked into the checkpoint at first start, which
  // is why it is scoped per drain here and not left to the session
  // default). Results are partition-count invariant — the oracle gate and
  // RocksDbStateSpec's provider-invariance run on the same drains.
  private val StreamShufflePartitions = "8"

  private def drain(s: SparkSession, df: DataFrame,
      mode: String = "complete"): DataFrame = {
    val name = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-ckpt-$name")
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = s.conf.get(partsKey)
    s.conf.set(partsKey, StreamShufflePartitions)
    val q = try {
      df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
    } finally s.conf.set(partsKey, prevParts) // picked up at query START; restore at once
    q.awaitTermination()
    val sink = s.table(name)
    val rows = sink.collect()
    val out = s.createDataFrame(java.util.Arrays.asList(rows: _*), sink.schema)
    s.catalog.dropTempView(name)
    org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    out
  }

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Append-mode drain for other modules' streaming pipelines (pp02). */
  private[graft] def drainAppend(s: SparkSession, df: DataFrame): DataFrame =
    drain(s, df, mode = "append")

  /** Write `df` as ONE plain parquet file at `out` with the given mtime —
    * the file streaming source lists plain files only (it does not
    * descend into a directory-shaped parquet output), and mtime order is
    * microbatch order under maxFilesPerTrigger=1. Shared by the sentinel
    * harness below and ss09's staged query stream. */
  private[graft] def stageAsFile(df: DataFrame, out: java.nio.file.Path,
      mtime: Long): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val stage = Files.createTempDirectory("graft-stage")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      // Files.list streams hold an open directory fd until closed
      val listing = Files.list(stage)
      val part = try listing.filter(p =>
        p.getFileName.toString.startsWith("part-")).findFirst().get()
      finally listing.close()
      Files.move(part, out, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(out,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
    }
  }

  /** Stage `splits` as one plain parquet file each (mtime order = trigger
    * order under maxFilesPerTrigger=1), stream them as micro-batches, run
    * `perBatch` on each inside foreachBatch, and return the union of the
    * per-batch results as a local DataFrame — the shared drive for the
    * serve-from-index streaming ops (ss09, dd14). foreachBatch is the
    * production shape for such jobs: each batch plans as a full batch
    * query, so per-batch partition pruning works (a stream-static join
    * could not prune — it would rescan the whole index every trigger). */
  private[graft] def drainForeachBatch(s: SparkSession,
      splits: Seq[DataFrame])(perBatch: DataFrame => DataFrame): DataFrame =
    drainForeachBatchWithId(s, splits)((batch, _) => perBatch(batch))

  /** As `drainForeachBatch`, but hands the callback the micro-batch id —
    * the handle a side-effecting batch body (dd14's index append) needs to
    * make its own writes replay-idempotent. */
  private[operators] def drainForeachBatchWithId(s: SparkSession,
      splits: Seq[DataFrame])(perBatch: (DataFrame, Long) => DataFrame): DataFrame = {
    require(splits.nonEmpty, "drainForeachBatch needs at least one split")
    import java.nio.file.Files
    val qdir = Files.createTempDirectory("graft-fb-src")
    val ckpt = Files.createTempDirectory("graft-fb-ckpt")
    try {
      val schema = splits.head.schema
      val t0 = System.currentTimeMillis()
      splits.zipWithIndex.foreach { case (df, i) =>
        stageAsFile(df, qdir.resolve(f"b$i%03d.parquet"), t0 + 60000L * i)
      }
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(qdir.toString)
      // foreachBatch is at-least-once: a retried micro-batch (transient
      // sink failure, retrying master) re-invokes the callback with the
      // SAME batchId. Keying the buffer by batchId makes the drain
      // exactly-once — a replay replaces its batch's rows instead of
      // double-appending them.
      val bufs = new scala.collection.mutable.TreeMap[Long, Array[org.apache.spark.sql.Row]]()
      @volatile var outSchema: org.apache.spark.sql.types.StructType = null
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val out = perBatch(batch, batchId)
          outSchema = out.schema
          val rows = out.collect()
          bufs.synchronized { bufs(batchId) = rows }
          ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // all-empty source: no batch ran — derive the schema by planning
      // the callback on an empty frame instead of NPE-ing. The -1
      // sentinel id marks this call as schema-derivation: callbacks with
      // side effects (dd14's index append) must skip them on a negative
      // batchId.
      if (outSchema == null)
        outSchema = perBatch(s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema), -1L).schema
      val rows = bufs.values.flatten.toArray
      s.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(qdir.toFile)
    }
  }

  /** The click→purchase interval join both st06 and st07 run: watermarked
    * substreams of the sentineled source, joined on user equality with
    * purchases in the hour after the click. ONE definition — the watermark
    * delay, interval, and join condition must stay identical between the
    * two operators and their oracles. */
  private def clickPurchaseJoin(src: DataFrame, joinType: String): DataFrame = {
    val clicks = src.filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("a_user"), col("event_id").as("a_id"),
        col("ts").as("a_ts"))
    val purchases = src.filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("b_user"), col("event_id").as("b_id"),
        col("ts").as("b_ts"))
    clicks.join(purchases,
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
  }

  /** st06's drained stream-stream LEFT OUTER interval join, one row per
    * join output (sentinels already filtered): clicks left-joined to the
    * same user's purchases in the following hour.
    *
    * Outer emission is watermark-driven (an unmatched left row may only be
    * emitted once the watermark proves no match can still arrive), and a
    * drained file stream's watermark stalls at max(ts) - delay — which
    * would withhold the last hour's unmatched rows forever. The harness
    * stages the fixture into a temp dir followed by two far-future
    * sentinel files processed as later microbatches (maxFilesPerTrigger=1,
    * mtime-ordered): the first advances the watermark past all real data,
    * the second gives the engine a batch that runs WITH that watermark and
    * flushes every real unmatched left. Sentinels carry negative ids and
    * are filtered after the drain. This is exactly how a production
    * pipeline closes the books on an outer join — advance event time, not
    * wall-clock time. */
  private[graft] def st06Drained(s: SparkSession, d: String): DataFrame =
    drainWithSentinels(s, d)(clickPurchaseJoin(_, "left_outer"))
      .filter(col("a_user") >= 0)

  /** Staged source dir for `d`'s sentineled event stream — the fixture
    * file plus two far-future sentinel microbatch files — built ONCE per
    * events content and reused by every drain over it: the staging writes
    * are an indexing cost, not a per-drain cost (re-staging measured ~35%
    * of the streaming lane's wall). Safe to share: each drain runs from a
    * fresh checkpoint, and the staged files keep fixed mtimes, so listing
    * order (= microbatch order under maxFilesPerTrigger=1) is identical
    * for every reader. */
  private[graft] def sentineledSrcDir(s: SparkSession, d: String): String =
    Materialized.dir(s, "stsrc", Tables.path(d, "events")) { dirStr =>
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val srcDir = Paths.get(dirStr)
      val fixture = srcDir.resolve("events.parquet")
      Files.copy(Paths.get(s"$d/events.parquet"), fixture,
        StandardCopyOption.REPLACE_EXISTING)
      val rawSchema = s.read.parquet(s"$d/events.parquet").schema
      // one click + one purchase sentinel per file so BOTH join inputs'
      // watermarks advance (the join watermark is their min). The sentinel
      // ts value must match the fixture's PHYSICAL encoding (the staged
      // file sits in the same source dir under one schema): nanos-long →
      // Long, TIMESTAMP_NTZ → LocalDateTime (what createDataFrame expects
      // for NTZ fields), TIMESTAMP → java.sql.Timestamp. The session tz is
      // UTC, so the NTZ LocalDateTime names the same instant.
      def writeSentinel(name: String, isoTs: String, mtime: Long): Unit = {
        val inst = java.time.Instant.parse(isoTs)
        val us = inst.toEpochMilli * 1000L
        val tsValue: Any = rawSchema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => us * 1000L
          case org.apache.spark.sql.types.TimestampNTZType =>
            java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
          case _ => java.sql.Timestamp.from(inst)
        }
        val rows = Seq(("click", -1L), ("purchase", -2L)).map { case (tpe, id) =>
          org.apache.spark.sql.Row.fromSeq(rawSchema.fields.map(_.name).map {
            case "event_id" => id
            case "ts" => tsValue
            case "user_id" => id
            case "event_type" => tpe
            case "value" => 0.0
            case "props" => "{}"
          }.toSeq)
        }
        stageAsFile(s.createDataFrame(java.util.Arrays.asList(rows: _*), rawSchema),
          srcDir.resolve(name), mtime)
      }
      val t0 = Files.getLastModifiedTime(fixture).toMillis
      writeSentinel("sentinel1.parquet", "2030-01-01T00:00:00Z", t0 + 60000)
      writeSentinel("sentinel2.parquet", "2030-02-01T00:00:00Z", t0 + 120000)
    }

  /** Build the sentineled event stream (fixture + two far-future sentinel
    * microbatches that advance the watermark past the tail — see st06's
    * Scaladoc), apply `build`, drain append-mode. Sentinel rows carry
    * negative user/event ids (one 'click' + one 'purchase' per sentinel
    * file so every filtered substream's watermark advances) — callers
    * filter them from the drained output. The staged dir is memoized per
    * events content ([[sentineledSrcDir]]); Materialized's shutdown hook
    * owns its cleanup. */
  private[graft] def drainWithSentinels(s: SparkSession, d: String)
      (build: DataFrame => DataFrame): DataFrame = {
    val srcDir = sentineledSrcDir(s, d)
    // schema from the staged fixture copy, not `d` — a caller may stage a
    // transient dir (st10's tail) and the memoized copy must outlive it
    val rawSchema = s.read.parquet(s"$srcDir/events.parquet").schema
    val src = Tables.normalizeEventsTs(s.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir))
    drain(s, build(src), mode = "append")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Watermarked tumbling-window aggregation, executed by the streaming
    // engine (state store + per-microbatch shuffle), checked against the
    // batch-equivalent SQL.
    "st01_stream_tumbling" -> ((s, d) => {
      val agg = streamEvents(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
          col("event_type"), col("n_events"), col("sum_value"))
      drain(s, agg)
    }),

    // Sliding windows (1h every 15m): each event contributes to 4
    // overlapping windows; the oracle reconstructs them as the 4 15-minute
    // buckets at and before the event's own bucket.
    "st03_stream_sliding" -> ((s, d) => {
      val agg = streamEvents(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
      drain(s, agg)
    }),

    // Streaming exact dedup: dropDuplicates emits only the FIRST arrival
    // of each (user, event_type) key — append mode, state unbounded (the
    // verification shape; production bounds it with
    // dropDuplicatesWithinWatermark, spec-covered). The drained table has
    // exactly one row per distinct key regardless of arrival order, so a
    // batch rollup over it equals COUNT(DISTINCT) in SQL.
    "st04_stream_distinct" -> ((s, d) => {
      val deduped = streamEvents(s, d)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      drain(s, deduped, mode = "append")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // Stream-stream interval self-join — the streaming execution of q40's
    // semantics: pairs of events by the same user within one hour, joined
    // across two watermarked streams with an event-time range condition
    // (what bounds the join state), drained append-mode, then rolled up
    // in batch. The final pair set equals the batch interval join.
    "st05_stream_interval_join" -> ((s, d) => {
      val a = streamEvents(s, d).withWatermark("ts", "10 minutes")
        .select(col("user_id").as("a_user"), col("event_id").as("a_id"),
          col("event_type").as("a_type"), col("ts").as("a_ts"))
      val b = streamEvents(s, d).withWatermark("ts", "10 minutes")
        .select(col("user_id").as("b_user"), col("event_id").as("b_id"),
          col("event_type").as("b_type"), col("ts").as("b_ts"))
      // the id-ordering conjunct sits INSIDE the join condition: Spark's
      // state-constraint extractor only mines the time conjuncts for the
      // state watermark and carries non-time predicates as residuals
      // (re-verified on 4.1.2 by a since-deleted probe, source at commit
      // 6eeefdb — r2 shipped a both-orders emission believing this threw;
      // it does not in this
      // shape), so each unordered pair is emitted exactly once and no
      // self-pairs exist: half the join output of the r2 formulation at
      // identical state retention (the ±1h window is symmetric).
      val joined = a.join(b,
        col("a_user") === col("b_user") &&
          col("a_id") < col("b_id") &&
          col("b_ts") >= col("a_ts") - expr("INTERVAL 1 HOUR") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"))
      drain(s, joined, mode = "append")
        .groupBy(col("a_type"), col("b_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(abs(unix_micros(col("a_ts")) - unix_micros(col("b_ts"))))
            .as("sum_gap_us"))
    }),

    // Stream-stream LEFT OUTER interval join — the attribution/funnel
    // query: every click, matched to the same user's purchases in the
    // following hour, clicks WITHOUT a purchase emitted with nulls (see
    // st06Drained for the watermark close-out harness).
    "st06_stream_left_outer" -> ((s, d) => {
      st06Drained(s, d)
        .agg(count(lit(1)).as("n_rows"),
          count(col("b_id")).as("n_matched"),
          sum(when(col("b_id").isNull, 1L).otherwise(0L)).as("n_unmatched"),
          countDistinct(col("a_id")).as("n_clicks"),
          coalesce(sum(unix_micros(col("b_ts")) - unix_micros(col("a_ts"))),
            lit(0L)).as("sum_gap_us"))
    }),
    // CHAINED STATEFUL operators — a stream-stream interval join feeding a
    // tumbling-window aggregation in ONE streaming job (append mode; two
    // state stores, two per-microbatch stateful shuffles). This is the
    // shape Spark only supports natively since 3.5/4.x and the one a real
    // attribution pipeline runs: join clicks→purchases, then aggregate
    // attributed revenue-gap stats per purchase hour. Window finalization
    // is watermark-driven like st06's outer emissions, so the sentinel
    // harness closes the last windows too. Oracle: the batch join+rollup.
    "st07_stream_join_agg" -> ((s, d) => {
      drainWithSentinels(s, d) { src =>
        clickPurchaseJoin(src, "inner")
          .groupBy(window(col("b_ts"), "1 hour"))
          .agg(count(lit(1)).as("n_attributed"),
            sum(unix_micros(col("b_ts")) - unix_micros(col("a_ts")))
              .as("sum_gap_us"))
          .select(col("window.start").as("win_start"),
            col("n_attributed"), col("sum_gap_us"))
      }.filter(year(col("win_start")) < lit(2030))
    }),

    // CUSTOM sessionization via flatMapGroupsWithState — the arbitrary-
    // stateful-processing API, oracle-gated (st02's
    // session_window is the built-in twin, this is the hand-rolled state
    // machine a pipeline writes when sessions need custom semantics —
    // here session_end = last event, not last + gap). Sessions are
    // emitted only when the WATERMARK proves them final (see
    // sessionize); undecided ones wait in state under event-time
    // timeouts and flush as the sentinel harness advances the watermark
    // — st06's close-out discipline, now for arbitrary state. The
    // drained table equals DuckDB's batch gaps-and-islands formulation
    // exactly, for any watermark-admitted arrival order.
    "st08_stream_fmgws_sessions" -> ((s, d) => {
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      import s.implicits._
      drainWithSentinels(s, d) { src =>
        src.select(col("user_id"), col("ts"), col("value")).as[SessEvent]
          .withWatermark("ts", "10 minutes")
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(OutputMode.Append(),
            GroupStateTimeout.EventTimeTimeout)(sessionize(30L * 60 * 1000000))
          .toDF()
      }.filter(col("user_id") >= 0)
    }),

    // The SAME watermark-final sessionization as st08, re-expressed on
    // transformWithState — Spark 4.x's successor to flatMapGroupsWithState
    // and the API a production pipeline writes new stateful operators
    // against (typed state handles, explicit event-time timers, RocksDB
    // state store required by the engine). Oracle: the identical batch
    // gaps-and-islands SQL — st08 and st09 must produce byte-identical
    // tables, proving the engine's two arbitrary-state APIs agree on one
    // state machine.
    "st09_stream_tws_sessions" -> ((s, d) => {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import s.implicits._
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      // transformWithState only runs on the RocksDB provider; scope the
      // override to this drain (restore after — provider-invariance of
      // every other drain is RocksDbStateSpec-proven, but the session
      // conf should not leak a side effect)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        drainWithSentinels(s, d) { src =>
          src.select(col("user_id"), col("ts"), col("value")).as[SessEvent]
            .withWatermark("ts", "10 minutes")
            .groupByKey(_.user_id)
            .transformWithState(new TwsSessionProcessor(30L * 60 * 1000000),
              TimeMode.EventTime(), OutputMode.Append())
            .toDF()
        }.filter(col("user_id") >= 0)
      } finally prev match {
        case Some(p) => s.conf.set(key, p)
        case None => s.conf.unset(key)
      }
    }),

    // The batch→stream CUTOVER, driver-gated: batch-fold the first half
    // of events (history) into final sessions + per-key open buffers
    // with the shared sessionStep, seed a transformWithState job with
    // the buffers via StatefulProcessorWithInitialState, stream only the
    // tail, and emit backfill ∪ streamed. The oracle is the SAME
    // gaps-and-islands SQL as st08/st09 over the WHOLE table — the
    // cutover must be invisible in the output, which is the property
    // that lets a production pipeline start streaming over 100 TB of
    // history without replaying it. The cut lands at the exact
    // event-time median so open sessions genuinely straddle it — the
    // median (an exact-quantile pass) is the TEST's deterministic split
    // device only; a production cutover picks a wall-clock instant and
    // pays no quantile scan.
    "st10_stream_bootstrap_sessions" -> ((s, d) => {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import s.implicits._
      val gapUs = 30L * 60 * 1000000
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val events = Tables.load(s, d, "events")
          .select(col("user_id"), col("ts"), col("value")).as[SessEvent]
        val cutUs = events.select(unix_micros(col("ts")).as("us"))
          .stat.approxQuantile("us", Array(0.5), 0.0).head.toLong
        val history = events.filter(unix_micros(col("ts")) < cutUs)
        // the cutover watermark: what the stream's would have been right
        // before the first tail batch (max history ts − delay, in ms)
        val wmMs = history.select(max(unix_micros(col("ts")))).as[Long].head() /
          1000L - 10L * 60 * 1000
        val (finHist, seed) = bootstrapSessions(history, gapUs, wmMs)
        val tailDir = java.nio.file.Files.createTempDirectory("graft-st10")
        try {
          stageAsFile(Tables.load(s, d, "events")
              .filter(unix_micros(col("ts")) >= cutUs),
            tailDir.resolve("events.parquet"), System.currentTimeMillis())
          val streamed = drainWithSentinels(s, tailDir.toString) { src =>
            src.select(col("user_id"), col("ts"), col("value")).as[SessEvent]
              .withWatermark("ts", "10 minutes")
              .groupByKey(_.user_id)
              .transformWithState(new TwsSessionProcessorWithInit(gapUs),
                TimeMode.EventTime(), OutputMode.Append(),
                seed.groupByKey(_._1).mapValues(_._2))
              .toDF()
          }.filter(col("user_id") >= 0)
          // the drain is synchronous and its output local; finHist reads
          // only the original fixture, so materialize the union before
          // the staged tail dir goes away
          val out = finHist.toDF().unionByName(streamed).localCheckpoint()
          out
        } finally {
          org.apache.commons.io.FileUtils.deleteQuietly(tailDir.toFile)
        }
      } finally prev match {
        case Some(p) => s.conf.set(key, p)
        case None => s.conf.unset(key)
      }
    }),

    // Per-user session windows (30-minute gap): the streaming engine's
    // session merging vs DuckDB's gaps-and-islands formulation.
    "st02_stream_sessions" -> ((s, d) => {
      val agg = streamEvents(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("session_value"))
        .select(col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("user_id"), col("n_events"), col("session_value"))
      drain(s, agg)
    })
  )

  val oracles: Map[String, String] = Map(
    "st06_stream_left_outer" -> """
      WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS us
                 FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id, event_id, epoch_us(ts) AS us
                 FROM events WHERE event_type = 'purchase'),
           j AS (SELECT c.event_id AS a_id, p.event_id AS b_id,
                        p.us - c.us AS gap
                 FROM c LEFT JOIN p
                   ON c.user_id = p.user_id
                  AND p.us >= c.us AND p.us <= c.us + 3600000000)
      SELECT COUNT(*) AS n_rows,
             CAST(COUNT(b_id) AS BIGINT) AS n_matched,
             CAST(SUM(CASE WHEN b_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched,
             CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_clicks,
             CAST(COALESCE(SUM(gap), 0) AS BIGINT) AS sum_gap_us
      FROM j""",

    "st07_stream_join_agg" -> """
      WITH c AS (SELECT user_id, epoch_us(ts) AS us
                 FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id, ts, epoch_us(ts) AS us
                 FROM events WHERE event_type = 'purchase'),
           j AS (SELECT p.ts AS b_ts, p.us - c.us AS gap
                 FROM c JOIN p
                   ON c.user_id = p.user_id
                  AND p.us >= c.us AND p.us <= c.us + 3600000000)
      SELECT CAST(DATE_TRUNC('hour', b_ts) AS TIMESTAMP) AS win_start,
             COUNT(*) AS n_attributed,
             CAST(SUM(gap) AS BIGINT) AS sum_gap_us
      FROM j GROUP BY 1""",

    "st01_stream_tumbling" -> """
      SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS win_start,
             CAST(DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS win_end,
             event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2, 3""",

    "st05_stream_interval_join" -> """
      WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                 FROM events)
      SELECT a.event_type AS a_type, b.event_type AS b_type,
             COUNT(*) AS n_pairs,
             CAST(SUM(ABS(a.us - b.us)) AS BIGINT) AS sum_gap_us
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
       AND ABS(a.us - b.us) <= 3600000000
      GROUP BY 1, 2""",

    "st04_stream_distinct" -> """
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users
      FROM events
      GROUP BY event_type""",

    "st03_stream_sliding" -> """
      WITH shifted AS (
        SELECT CAST(time_bucket(INTERVAL 15 MINUTE, ts)
                      - k.k * INTERVAL 15 MINUTE AS TIMESTAMP) AS win_start,
               event_type, value
        FROM events, (SELECT UNNEST(RANGE(0, 4)) AS k) k)
      SELECT win_start, event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM shifted
      GROUP BY 1, 2""",

    // st10 = the batch→stream cutover: backfill ∪ streamed-tail must
    // equal the gaps-and-islands of the WHOLE table (cutover invisible)
    "st10_stream_bootstrap_sessions" -> """
      WITH o AS (
        SELECT user_id, ts, value,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events),
           m AS (
        SELECT user_id, ts, value,
               SUM(CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM o)
      SELECT user_id,
             CAST(MIN(ts) AS TIMESTAMP) AS session_start,
             CAST(MAX(ts) AS TIMESTAMP) AS session_end,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM m
      GROUP BY user_id, session_id""",

    // st09 = st08's state machine on the transformWithState API: same
    // gaps-and-islands oracle (session_end = last event; exact cents)
    "st09_stream_tws_sessions" -> """
      WITH o AS (
        SELECT user_id, ts, value,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events),
           m AS (
        SELECT user_id, ts, value,
               SUM(CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM o)
      SELECT user_id,
             CAST(MIN(ts) AS TIMESTAMP) AS session_start,
             CAST(MAX(ts) AS TIMESTAMP) AS session_end,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM m
      GROUP BY user_id, session_id""",

    // st02's gaps-and-islands with st08's emission (session_end = last
    // event itself; value as exact decimal cents)
    "st08_stream_fmgws_sessions" -> """
      WITH o AS (
        SELECT user_id, ts, value,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events),
           m AS (
        SELECT user_id, ts, value,
               SUM(CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM o)
      SELECT user_id,
             CAST(MIN(ts) AS TIMESTAMP) AS session_start,
             CAST(MAX(ts) AS TIMESTAMP) AS session_end,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM m
      GROUP BY user_id, session_id""",

    // gaps-and-islands: a session breaks when the gap to the previous event
    // of the same user exceeds 30 minutes; session_end = last event + gap
    // (Spark session_window semantics)
    "st02_stream_sessions" -> """
      WITH o AS (
        SELECT user_id, ts, value,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events),
           m AS (
        SELECT user_id, ts, value,
               SUM(CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM o)
      SELECT CAST(MIN(ts) AS TIMESTAMP) AS session_start,
             CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
             user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM m
      GROUP BY user_id, session_id"""
  )
}
