package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the `events` table.
  *
  * The reference is strictly batch (hard Maple→Juice barrier, reference
  * README.md:10-16; SURVEY.md §2.5 "streaming: none") — this module is the
  * engine extension: the same event-analytics queries as `Relational.q20/
  * q21`, expressed as an unbounded stream with watermarks, windowed
  * aggregation, and custom session state via `flatMapGroupsWithState`.
  *
  * Scale notes: state store is keyed by (window, event_type) / user_id —
  * partitioned across executors; watermark bounds state size; parquet
  * source here swaps for Kafka at deploy with the transform unchanged.
  */
object EventStream {

  /** HALF_UP to 2dp — matches Spark's `round` and the DuckDB oracle. */
  private def roundHalfUp2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble


  /** Read schema for raw ns-long event files: `ts` arrives as nanosecond
    * longs (TIMESTAMP(NANOS) under nanosAsLong, or plain INT64 in
    * ScaleGen-written rehearsal corpora — see
    * [[graft.core.Tables.sessionDefaults]]). */
  val eventsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts BIGINT, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")

  /** Read schema for the other raw family: parquet TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ (the
    * current driver testdata generation). */
  val eventsSchemaNtz: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")

  /** Which raw family a corpus ships, from the events schema that
    * [[graft.core.Tables.schemaOf]] infers once per file set. */
  private def tsIsNsLong(s: SparkSession, d: String): Boolean =
    graft.core.Tables.schemaOf(s, d, "events")("ts").dataType ==
      org.apache.spark.sql.types.LongType

  /** Streaming read of raw event files with the ts family normalized to
    * session-local TimestampType at µs — the streaming twin of
    * [[graft.core.Tables]]' batch normalization (UTC session ⇒ the NTZ
    * cast relabels, never shifts). */
  private def readEventStream(s: SparkSession, glob: String,
      nsFamily: Boolean, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r0 = s.readStream.schema(if (nsFamily) eventsSchema else eventsSchemaNtz)
    val r = maxFilesPerTrigger.fold(r0)(n => r0.option("maxFilesPerTrigger", n.toString))
    val df = r.parquet(glob)
    if (nsFamily) df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Unbounded source over the events parquet path, either ts family.
    * Glob form — FileStreamSource requires a directory or glob, not a bare
    * file path ("Option 'basePath' must be a directory"). */
  def readEvents(s: SparkSession, d: String): DataFrame =
    readEventStream(s, s"$d/events.parque*", tsIsNsLong(s, d))

  /** Tumbling 1-hour windows per event type with a 2-hour watermark —
    * streaming twin of Relational.q20 (same output schema + rounding). */
  def windowedCounts(events: DataFrame): DataFrame = {
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Sentinel event type [[runWindowedCountsBatch]] appends to advance the
    * watermark past the finite stream's final windows. */
  private[graft] val SentinelType = "__watermark_sentinel__"

  /** Run [[windowedCounts]] over the (finite) test stream THROUGH THE
    * SCALE SINK SHAPE — Append mode to a distributed parquet file sink —
    * and read the result back for the batch-oriented Verify/oracle gate.
    *
    * A finite stream's watermark never passes its last windows (the
    * watermark chases max-event-time minus the 2 h delay), so a naive
    * Append run withholds them from the oracle compare; the r4–r6 gate
    * harness therefore ran Complete mode into a memory sink — a driver
    * collection point this suite otherwise has none of. Closed with
    * WATERMARK-ADVANCING SENTINELS: the source directory is restaged as
    * the corpus file(s) plus two trailing sentinel events (5 h and 6 h
    * past the real maximum), mtime-ordered with `maxFilesPerTrigger=1` so
    * each sentinel arrives in its own micro-batch. The first advances the
    * watermark 3 hours past every real window's end; the second's data
    * batch then evicts and emits them all to the file sink exactly once,
    * while the sentinels' own still-open windows stay in state (filtered
    * defensively anyway). Result: the exact q20 oracle rows through the
    * sink shape production uses — executors write partitioned files,
    * nothing is collected to the driver, and no `format("memory")` exists
    * anywhere in the gate path. */
  def runWindowedCountsBatch(s: SparkSession, d: String): DataFrame =
    runAppendToFileSink(s, windowedCounts(stagedSentinelStream(s, d)))
      .filter(col("event_type") =!= SentinelType)

  /** The staged sentinel-augmented event stream behind
    * [[runWindowedCountsBatch]] and [[runTopKTypesBatch]]: the corpus
    * events plus two trailing watermark-advancing sentinels, mtime-ordered
    * with `maxFilesPerTrigger=1` so each sentinel arrives in its own
    * micro-batch (see [[runWindowedCountsBatch]]'s contract above). */
  private[graft] def stagedSentinelStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.max
    val base = java.nio.file.Paths.get("target", "stream_wc_src",
      java.lang.Long.toHexString(System.nanoTime()))
    java.nio.file.Files.createDirectories(base)
    // stage the corpus events: driver testdata ships ONE parquet file;
    // ScaleGen rehearsal corpora are Spark-written DIRECTORIES of parts
    val src = new java.io.File(s"$d/events.parquet")
    val parts =
      if (src.isDirectory)
        src.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      else Seq(src)
    if (parts.length == 1) {
      val dst = base.resolve("part_00000.parquet")
      java.nio.file.Files.copy(parts.head.toPath, dst)
      dst.toFile.setLastModified(1000000L)
    } else {
      // multi-part rehearsal corpora MUST arrive in one micro-batch:
      // with maxFilesPerTrigger=1 the first shard's commit parks the
      // watermark at (corpus max − delay) — every later shard's
      // earlier-timestamped rows are then LATE for the stateful
      // operators and silently dropped (measured at sf1: the funnel
      // lost every user of shards 2–10). Combining preserves the RAW ts
      // family — no Tables normalization touches the staged bytes.
      val combined = base.resolve("stage_combined").toString
      s.read.parquet(parts.map(_.getPath): _*).coalesce(1)
        .write.parquet(combined)
      val one = new java.io.File(combined).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = base.resolve("part_00000.parquet")
      java.nio.file.Files.move(one.toPath, dst)
      dst.toFile.setLastModified(1000000L)
    }
    // TWO sentinels, in separate micro-batches: the first (max + 5 h)
    // advances the watermark to max + 3 h at its batch's END — past every
    // real window's end (<= max + 1 h) — and the second's DATA batch then
    // evicts and emits those windows with that watermark. Emission must
    // ride a data batch: the trailing no-data micro-batch is asynchronous
    // w.r.t. processAllAvailable (which only waits for available OFFSETS
    // to commit), so a single sentinel raced query.stop() and the final
    // three windows were nondeterministically withheld — measured exactly
    // that on the first cut. Sentinels are written in the SAME raw ts
    // family as the staged corpus files (ns longs or TIMESTAMP_NTZ µs) so
    // one schema reads every staged file.
    val nsFamily = tsIsNsLong(s, d)
    val maxUs = graft.core.Tables.events(s, d)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    import s.implicits._
    Seq(5L, 6L).zipWithIndex.foreach { case (hours, i) =>
      val stage = base.resolve(s"stage_sentinel_$i").toString
      val raw = Seq((-1L - i, maxUs + hours * 3600 * 1000000L, -1L,
          SentinelType, 0.0, null: String))
        .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      val withTs =
        if (nsFamily) raw.withColumn("ts", $"ts_us" * 1000L)
        else raw.withColumn("ts",
          expr("cast(timestamp_micros(ts_us) as timestamp_ntz)"))
      withTs.select($"event_id", $"ts", $"user_id", $"event_type",
          $"value", $"props")
        .coalesce(1).write.parquet(stage)
      val sPart = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = base.resolve(s"z_sentinel_$i.parquet")
      java.nio.file.Files.move(sPart.toPath, dst)
      dst.toFile.setLastModified(2000000000L + i * 1000L)
    }
    // sentinel windows never flush (their ends outrun the final watermark),
    // so the SentinelType filter at each call site is defensive — but it
    // MUST sit on the batch read-back, not the streaming plan: Catalyst
    // pushes an event_type predicate below the aggregation AND the
    // watermark operator, so the sentinel rows would be dropped at the
    // scan and the watermark never advances (measured: rowsIn=0 on both
    // sentinel batches, final three windows withheld)
    readEventStream(s, s"$base/*.parquet", nsFamily,
      maxFilesPerTrigger = Some(1))
  }

  // --------------------------------------------- streaming windowed top-k
  /** Trending types emitted per window. */
  val TopKTypesK = 3

  case class TsType(ts: Timestamp, event_type: String)
  case class TopKRow(window_start: Long, event_type: String,
                     n_events: Long, rank: Int)
  // entries, not Map, and NOT private: the Map-typed state encoder fails
  // janino codegen outright, and a private nested class's accessors janino
  // refuses to invoke from generated code (task-fatal, no fallback)
  case class TopKState(entries: Seq[(String, Long)])

  /** CONTINUOUS TRENDING: top-[[TopKTypesK]] event types per 1-hour
    * tumbling window, emitted as each window seals — the streaming
    * operator behind "what's trending right now" dashboards and drift
    * alarms on an ingestion feed.
    *
    * A per-window rank is not expressible as an incremental streaming
    * aggregate (a late row can reorder the whole window), so this is the
    * canonical `flatMapGroupsWithState` + EVENT-TIME TIMEOUT shape:
    * state per open window = its per-type counts (bounded by
    * |event types|, NOT by window row count); each window registers a
    * timeout at its end, and when the WATERMARK passes it the state times
    * out, emits the final ranked top-k exactly once, and is removed —
    * state lifetime is watermark-bounded like every streaming op here.
    *
    * Late-data policy (flatMapGroupsWithState drops nothing on its own —
    * unlike built-in windowed aggregation): rows whose window end is
    * already behind the watermark arrive AFTER their window's top-k was
    * sealed and emitted; re-opening state would both break
    * emit-exactly-once and crash the next setTimeoutTimestamp (it must
    * exceed the watermark). They are dropped explicitly — the SAME
    * semantics the built-in watermark gives [[windowedCounts]]. */
  def windowTopKTypes(events: DataFrame): Dataset[TopKRow] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark("ts", "2 hours")
      .select(col("ts"), col("event_type")).as[TsType]
      .groupByKey(e => e.ts.getTime / 1000 / 3600 * 3600)
      .flatMapGroupsWithState[TopKState, TopKRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (winStart: Long, rows: Iterator[TsType], state: GroupState[TopKState]) =>
          val windowEndMs = (winStart + 3600) * 1000L
          if (state.hasTimedOut) {
            val counts = state.get.entries
            state.remove()
            counts.sortBy { case (t, n) => (-n, t) }
              .take(TopKTypesK).zipWithIndex
              .map { case ((t, n), i) => TopKRow(winStart, t, n, i + 1) }
              .iterator
          } else if (windowEndMs <= state.getCurrentWatermarkMs()) {
            Iterator.empty // late rows for a sealed window: dropped
          } else {
            val cur = state.getOption
              .map(_.entries.toMap).getOrElse(Map.empty[String, Long])
            val upd = rows.foldLeft(cur) { (m, e) =>
              m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
            }
            state.update(TopKState(upd.toSeq))
            state.setTimeoutTimestamp(windowEndMs)
            Iterator.empty
          }
      }
  }

  /** Gate form of [[windowTopKTypes]]: the real stream through the
    * sentinel-flushed Append file sink ([[stagedSentinelStream]] +
    * [[runAppendToFileSink]]), exactly like [[runWindowedCountsBatch]] —
    * every sealed window's top-k rows land in the distributed sink with
    * nothing collected; the finite stream's last windows seal via the
    * watermark sentinels. */
  def runTopKTypesBatch(s: SparkSession, d: String): DataFrame =
    runAppendToFileSink(s, windowTopKTypes(stagedSentinelStream(s, d)).toDF())
      .filter(col("event_type") =!= SentinelType)

  /** DuckDB twin: hour-floored windowed counts + rank ≤ K with the same
    * (n DESC, type ASC) total-order tie-break. */
  val topKTypesOracle: String =
    s"""WITH wc AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
       |    event_type, count(*) AS n_events
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT window_start, event_type, n_events,
       |    row_number() OVER (PARTITION BY window_start
       |      ORDER BY n_events DESC, event_type ASC) AS rank
       |  FROM wc)
       |SELECT CAST(window_start AS BIGINT) AS window_start, event_type,
       |  CAST(n_events AS BIGINT) AS n_events, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= $TopKTypesK""".stripMargin

  /** Wall-nanos the streaming queries spent EXECUTING (start →
    * processAllAvailable → stop) since the last drain. The gate-harness
    * cost around that span — corpus restage, sentinel writes, checkpoint
    * dirs, result read-back — is what a `run*Batch` total includes beyond
    * it; Bench drains this per run so the committed artifact records
    * operator and harness time separately (the r7 artifact recorded one
    * undifferentiated number, so the r6→r7 memory-sink→file-sink gate
    * swap read as a 3× regression on `stream_event_windows`). */
  private val opNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Micro-batches the streaming queries executed since the last drain
    * (`lastProgress.batchId + 1` — fresh checkpoint per gate run, so ids
    * count from 0; includes any trailing no-data batch). The r8 verdict's
    * open question was WHERE the ~30× streaming premium over the batch
    * twins lives; with the batch count in the committed artifact the
    * per-batch floor is `op / batches` line-item by line-item instead of
    * a prose estimate. */
  private val opBatches = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Read-and-reset the streaming-execution span accumulator (seconds). */
  def drainOpSecs(): Double = opNanos.getAndSet(0L) / 1e9

  /** Read-and-reset the executed-micro-batch counter. */
  def drainOpBatches(): Long = opBatches.getAndSet(0L)

  /** Run an Append-mode streaming frame to a PARQUET FILE SINK and read
    * the result back — the scale-path sink shape (executors write
    * partitioned files; nothing is collected to the driver; the
    * checkpoint directory carries offsets+state for exactly-once). The
    * read-back is only so the finite-gate harness can compare results;
    * production consumers read the sink directory directly. */
  def runAppendToFileSink(s: SparkSession, df: DataFrame): DataFrame = {
    // under target/, not /tmp: repeated harness runs (Bench repeats,
    // Verify) would otherwise accumulate unbounded data+checkpoint dirs
    // outside the build tree; target/ is bounded by `sbt clean`
    val base = java.nio.file.Paths.get("target", "stream_sink",
      java.lang.Long.toHexString(System.nanoTime()))
    java.nio.file.Files.createDirectories(base)
    val out = s"$base/out"
    // the state-partition knob is a session conf read at QUERY START (the
    // checkpoint then owns it for the query's lifetime — fresh checkpoint
    // per gate run, so setting it here is complete); set/restore around
    // the run so a session's batch queries never see a streaming-only
    // override. The state-store provider is Spark's own deploy setting
    // (`spark.sql.streaming.stateStore.providerClass`), left untouched.
    val conf = s.conf
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = conf.getOption(partsKey)
    // state partition count == shuffle partitions at first batch; the
    // gate default keeps the session's value (scale posture), override
    // for floor measurement only
    conf.getOption("spark.graft.stream.statePartitions")
      .foreach(conf.set(partsKey, _))
    // the override must survive until the stream thread has captured its
    // session: StreamExecution clones the session LAZILY on the query
    // thread, so restoring right after start() RACES that capture and the
    // stream intermittently plans its state stores with the session's
    // batch partition count (measured: the r9 floor fix silently reverted
    // to 32-partition state under today's thread timing). The gate drain
    // is synchronous, so restoring after processAllAvailable() keeps the
    // original contract: no batch query of this session ever runs under
    // the streaming-only override. The restore lives in an OUTER finally
    // that also covers start() itself — an analysis error there would
    // otherwise leak the override into every later batch query of the
    // session (Bench's per-query catch keeps running after a failure).
    try {
      val q = df.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      val t0 = System.nanoTime()
      try q.processAllAvailable() finally {
        q.stop()
        opNanos.addAndGet(System.nanoTime() - t0)
        Option(q.lastProgress).foreach(p => opBatches.addAndGet(p.batchId + 1))
      }
    } finally prevParts.foreach(conf.set(partsKey, _))
    // a stream that emitted nothing (empty source, or every window still
    // inside the watermark) writes no parquet files — read.parquet would
    // throw "unable to infer schema"; the correct result is an EMPTY
    // frame with the stream's schema
    val wrote = new java.io.File(out).listFiles() match {
      case null => false
      case fs   => fs.exists(_.getName.endsWith(".parquet"))
    }
    if (wrote) s.read.parquet(out)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
  }

  /** Streaming exact dedup over the event stream with state actually
    * bounded by the watermark: `dropDuplicatesWithinWatermark` evicts a
    * key's state once the watermark passes it — plain `dropDuplicates`
    * on non-event-time keys NEVER evicts (state grows with every distinct
    * key forever; the unbounded-input scale claim would be false). Within
    * the watermark the dedup is exact, which for the finite test stream
    * equals the batch DISTINCT oracle. Dedup emits first-seen rows
    * immediately (Append never withholds them), so the gate runs the
    * SCALE sink shape directly: a distributed parquet file sink, no
    * driver collection point. */
  def streamingDedupBatch(s: SparkSession, d: String): DataFrame =
    runAppendToFileSink(s,
      readEvents(s, d)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type")))

  val streamingDedupOracle: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  // ------------------------------------------- streaming decontamination
  private val documentsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  def readDocuments(s: SparkSession, d: String): DataFrame =
    s.readStream.schema(documentsSchema).parquet(s"$d/documents.parque*")

  /** Streaming decontamination ADMISSION filter: probe a document STREAM
    * against the static Bloom bitmap of the eval set — the shape by which
    * new crawl shards are admitted to a training corpus (the filter is
    * built once from the fixed eval side; every arriving shard is scored
    * map-side with no state and no shuffle on the stream). A stream-static
    * join whose static side is the 1-row bitmap: Structured Streaming
    * re-evaluates the static plan per micro-batch, which here costs one
    * tiny cached-scan aggregate, and the probe itself is stateless — so
    * Append mode emits every scored doc immediately and the gate runs the
    * scale sink shape directly ([[runAppendToFileSink]]), like
    * [[streamingDedupBatch]]. Equality with the batch operator on the
    * finite stream is exact (same probe code — [[graft.operators.Dedup
    * .bloomProbeOf]] serves both), so the DuckDB oracle is the batch
    * twin's, and StreamingSpec additionally pins stream ≡ batch. */
  def streamingDecontaminateBatch(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Dedup
    val bitmap = Dedup.bloomBitmapOf(graft.core.Tables.documents(s, d),
      Dedup.EvalSetSize, Dedup.BloomK, Dedup.BloomLog2m)
    runAppendToFileSink(s,
      Dedup.bloomProbeOf(readDocuments(s, d), bitmap,
        Dedup.EvalSetSize, Dedup.BloomK, Dedup.BloomLog2m))
  }

  // ------------------------------------------------- stateful sessionization
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionAgg(user_id: Long, session_id: Long, n_events: Long,
                        session_value: Double)
  private case class SessState(sessionId: Long, lastTs: Long, n: Long, sum: Double)

  /** Custom session state: 30-minute-gap sessions per user via
    * flatMapGroupsWithState — the streaming twin of Relational.q21.
    * Emits a session row whenever a gap closes a session; the persistent
    * state per user is O(1).
    *
    * The in-batch `toSeq.sortBy` buffers one user's arrivals *within one
    * micro-batch* (flatMapGroupsWithState exposes no sorted group
    * iterator): bounded by the trigger size (`maxFilesPerTrigger` /
    * `maxOffsetsPerTrigger`), NOT by the user's full history — size
    * triggers so a hot user's per-batch slice fits the executor; the
    * batch twin [[sessionizeBatchEquivalent]] shows the unbounded-input
    * form via secondary sort. */
  def sessionize(events: Dataset[Event]): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionAgg](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessState(0L, Long.MinValue, 0L, 0.0))
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionAgg]
          sorted.foreach { e =>
            val t = e.ts.getTime / 1000
            if (st.n == 0L) st = SessState(1L, t, 1L, e.value)
            else if (t - st.lastTs > 1800) {
              closed += SessionAgg(userId, st.sessionId, st.n,
                roundHalfUp2(st.sum))
              st = SessState(st.sessionId + 1, t, 1L, e.value)
            } else st = st.copy(lastTs = t, n = st.n + 1, sum = st.sum + e.value)
          }
          state.update(st)
          closed.iterator
      }
  }

  /** Final open sessions from state — combined with the emitted closed
    * sessions this equals the batch q21 result (asserted in StreamingSpec
    * by running the stream then flushing). For the finite test harness we
    * instead run sessionize over one batch and flush via a sentinel.
    *
    * Memory shape: secondary sort — hash-repartition by user, sort within
    * partitions on (user, ts, event_id), then a single streaming fold per
    * partition. No per-user buffering anywhere: a user with a billion
    * events costs the sort's spillable machinery, never executor heap
    * (the earlier `rows.toSeq.sortBy` form materialized each user's whole
    * history). */
  def sessionizeBatchEquivalent(s: SparkSession, d: String): DataFrame =
    sessionizeBatchEquivalentOf(
      graft.core.Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")))

  private[graft] def sessionizeBatchEquivalentOf(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    ev
      .repartition($"user_id")
      .sortWithinPartitions($"user_id", $"ts", $"event_id")
      .as[Event]
      .mapPartitions { rows =>
        new scala.collection.AbstractIterator[SessionAgg] {
          // (user, sessionId, lastTs, n, sum) of the open session — O(1)
          private var open: Option[(Long, Long, Long, Long, Double)] = None
          private var pending: Option[SessionAgg] = None
          private def close(u: Long, sid: Long, n: Long, sum: Double): Unit =
            pending = Some(SessionAgg(u, sid, n, roundHalfUp2(sum)))
          private def advance(): Unit = {
            while (pending.isEmpty && rows.hasNext) {
              val e = rows.next()
              val t = e.ts.getTime / 1000
              open match {
                case None =>
                  open = Some((e.user_id, 1L, t, 1L, e.value))
                case Some((u, sid, lastTs, n, sum)) =>
                  if (e.user_id != u) {
                    close(u, sid, n, sum)
                    open = Some((e.user_id, 1L, t, 1L, e.value))
                  } else if (t - lastTs > 1800) {
                    close(u, sid, n, sum)
                    open = Some((u, sid + 1, t, 1L, e.value))
                  } else open = Some((u, sid, t, n + 1, sum + e.value))
              }
            }
            if (pending.isEmpty && !rows.hasNext) open.foreach { case (u, sid, _, n, sum) =>
              close(u, sid, n, sum); open = None
            }
          }
          def hasNext: Boolean = { advance(); pending.nonEmpty }
          def next(): SessionAgg = {
            advance()
            val h = pending.get; pending = None; h
          }
        }
      }
      .toDF("user_id", "session_id", "n_events", "session_value")
  }

  // --------------------------------------------- skew-resistant sessionize
  /** One local session run: a maximal 30-min-gap chain of one user's events
    * WITHIN one range partition. Timestamps are epoch seconds; `sum` stays
    * unrounded until final emission. */
  // private[graft], not private: Spark's generated encoder code lives
  // outside this object and needs JVM-public access to the constructor
  private[graft] case class SessPiece(user_id: Long, start_ts: Long,
                                      last_ts: Long, n: Long, sum: Double)

  /** Sessionize without the hot-user straggler. [[sessionizeBatchEquivalent]]
    * hash-partitions by user, so ONE task owns a hot user's entire history —
    * at 100 TB a bot with 5% of events is 5% of the corpus in one task.
    * Here the corpus is RANGE-partitioned on (user_id, ts, event_id): a hot
    * user's timeline splits across adjacent partitions, each sessionized
    * independently by the same O(1) streaming fold (no per-user buffering
    * anywhere — state is one open-session accumulator), emitting
    * fixed-width local session summaries. A second shuffle groups
    * summaries per user and merges: chain summaries whose
    * `next.start - prev.last <= 1800`, renumber in time order.
    *
    * The merge is exact: range boundaries preserve every inter-event gap,
    * and session membership depends only on gaps — a user contained in one
    * partition arrives with gaps all > 1800 and the merge is a no-op
    * renumber; a split user's chains reconnect precisely where the
    * sequential scan would have kept them open. The one divergence class
    * is float: a merged session's value sums fragment partials — a
    * different ASSOCIATION than the sequential left-fold (commutation is
    * exact in IEEE, association is not), bounded by an ulp and absorbed by
    * the shared 2dp rounding, the same tolerance the DuckDB oracle already
    * relies on (it sums in its own order).
    *
    * Why this survives 100 TB where the hash shape doesn't: the heavy
    * stage (full event rows, per-event work) is range-balanced — Spark's
    * range sampler splits a hot user across as many partitions as their
    * volume demands. The per-user merge stage sees only session SUMMARIES,
    * smaller than events by the events-per-session factor and free of all
    * decode work; an adversarial 1-event-per-session bot degrades the
    * merge to their session count, which is the irreducible output size
    * of that user. */
  def sessionizeSkewResistant(s: SparkSession, d: String): DataFrame =
    sessionizeSkewResistantOf(
      graft.core.Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")))

  private[graft] def sessionizeSkewResistantOf(
      ev: DataFrame, numParts: Option[Int] = None): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val ranged = numParts match {
      case Some(p) => ev.repartitionByRange(p, $"user_id", $"ts", $"event_id")
      case None    => ev.repartitionByRange($"user_id", $"ts", $"event_id")
    }
    ranged
      .sortWithinPartitions($"user_id", $"ts", $"event_id")
      .as[Event]
      .mapPartitions { rows =>
        // single pass, O(1) state: the open local session
        val out = Iterator.newBuilder[SessPiece]
        var open = false
        var u = 0L; var startTs = 0L; var lastTs = 0L; var n = 0L; var sum = 0.0
        def close(): Unit = out += SessPiece(u, startTs, lastTs, n, sum)
        rows.foreach { e =>
          val t = e.ts.getTime / 1000
          if (!open) { open = true; u = e.user_id; startTs = t; lastTs = t; n = 1L; sum = e.value }
          else if (e.user_id != u || t - lastTs > 1800) {
            close(); u = e.user_id; startTs = t; lastTs = t; n = 1L; sum = e.value
          } else { lastTs = t; n += 1; sum += e.value }
        }
        if (open) close()
        out.result()
      }
      // merge stage: secondary sort, NOT groupByKey — a flatMapGroups
      // would buffer one user's whole piece set in a single task's heap,
      // which is exactly the adversarial bot (1-event sessions at corpus
      // share) this operator exists to survive. Hash-repartition the
      // summaries by user, sort within partitions on the fully
      // deterministic key (so equal-ts boundary splits merge identically
      // every run — local runs are time-disjoint per the range
      // partitioning), and run one O(1)-state chain fold; the sort's
      // spillable machinery carries the hot user, never the heap.
      .repartition(col("user_id"))
      .sortWithinPartitions(
        col("user_id"), col("start_ts"), col("last_ts"), col("n"), col("sum"))
      .as[SessPiece]
      .mapPartitions { ps =>
        // streaming fold, one emitted session at a time — no output
        // buffering either (the hot user's sessions flow through, never
        // accumulate), mirroring sessionizeBatchEquivalent's iterator
        new scala.collection.AbstractIterator[SessionAgg] {
          private var open = false
          private var u = 0L; private var sid = 0L; private var last = 0L
          private var n = 0L; private var sum = 0.0
          private var pending: Option[SessionAgg] = None
          private def closed: SessionAgg = SessionAgg(u, sid, n, roundHalfUp2(sum))
          private def advance(): Unit = {
            while (pending.isEmpty && ps.hasNext) {
              val f = ps.next()
              if (!open || f.user_id != u) {
                if (open) pending = Some(closed)
                open = true; u = f.user_id; sid = 1L
                last = f.last_ts; n = f.n; sum = f.sum
              } else if (f.start_ts - last <= 1800) {
                last = math.max(last, f.last_ts); n += f.n; sum += f.sum
              } else {
                pending = Some(closed); sid += 1
                last = f.last_ts; n = f.n; sum = f.sum
              }
            }
            if (pending.isEmpty && !ps.hasNext && open) {
              pending = Some(closed); open = false
            }
          }
          def hasNext: Boolean = { advance(); pending.nonEmpty }
          def next(): SessionAgg = {
            advance()
            val h = pending.get; pending = None; h
          }
        }
      }
      .toDF("user_id", "session_id", "n_events", "session_value")
  }

  // --------------------------------------------------- streaming funnel
  /** Carries BOTH the watermarked event-time column (`ts` — event-time
    * timeout requires it to survive projection into the stateful
    * operator) and its exact micros (`us` — the state arithmetic). */
  case class FunnelEvent(user_id: Long, event_type: String,
                         ts: Timestamp, us: Long)
  case class FunnelUserRow(user_id: Long, t1us: Long,
                           t2us: Option[Long], t3us: Option[Long])
  case class FunnelState(minViewUs: Long,
                                 clicks: Seq[Long], purchases: Seq[Long],
                                 lastUs: Long)

  /** Funnel seal gap: a user's funnel is evaluated once the watermark is
    * 2.5 h past their last event. The gap must exceed the 2 h watermark
    * delay (or sealing admits disorder the watermark still allows) and
    * sit STRICTLY below the first sentinel's +3 h watermark advance:
    * event-time timeouts fire on `timeoutTimestamp < watermark` (strict),
    * so a 3 h gap would leave the user owning the corpus-max event to
    * seal only in the trailing no-data micro-batch — the exact
    * `processAllAvailable()`/`stop()` race the sentinel design exists to
    * avoid (see [[stagedSentinelStream]]). 2.5 h keeps a 30-minute
    * margin, the [[windowTopKTypes]] discipline. */
  val FunnelGapMs: Long = 150L * 60 * 1000

  /** Streaming per-user conversion funnel — the stream twin of
    * [[graft.operators.Events.eventFunnel]]'s user stage: one row per
    * viewing user at seal time with their view → click → purchase
    * conversion instants (t2/t3 null where the user never converted).
    *
    * The funnel is NOT incrementally computable under out-of-order
    * arrival: a click's eligibility (`ts ≥ t1`) depends on the FINAL
    * first-view instant, which later (earlier-timestamped) views can
    * still lower. The state therefore holds min-view (O(1)) plus the
    * user's click/purchase instants inside the un-watermarked horizon,
    * and the chained conditional mins are computed once, at seal — the
    * exact batch semantics. A deployment bounds the click/purchase
    * vectors with a conversion window (keep only instants within W of
    * min-view); the gate keeps them whole so the oracle equality is
    * exact rather than windowed.
    *
    * Late-data policy (the [[windowTopKTypes]] rule): rows arriving after
    * their user sealed find no state and would restart the funnel; they
    * are dropped by the same watermark contract that sealed the user —
    * the stream's watermark delay admits 2 h of disorder, the 3 h seal
    * gap sits behind it. */
  def funnelUsers(events: DataFrame): Dataset[FunnelUserRow] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("us")).as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelUserRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            if (st.minViewUs == Long.MaxValue) Iterator.empty
            else {
              val t1 = st.minViewUs
              val t2 = st.clicks.filter(_ >= t1).sorted.headOption
              val t3 = t2.flatMap(c => st.purchases.filter(_ >= c).sorted.headOption)
              Iterator.single(FunnelUserRow(userId, t1, t2, t3))
            }
          } else {
            var st = state.getOption.getOrElse(
              FunnelState(Long.MaxValue, Nil, Nil, Long.MinValue))
            rows.foreach { e =>
              // O(1) prepend — an append (:+) copies the whole List per
              // event, turning a hot user's single-batch fold quadratic;
              // order is irrelevant because seal sorts
              st = e.event_type match {
                case "view"     => st.copy(minViewUs = math.min(st.minViewUs, e.us),
                  lastUs = math.max(st.lastUs, e.us))
                case "click"    => st.copy(clicks = e.us +: st.clicks,
                  lastUs = math.max(st.lastUs, e.us))
                case "purchase" => st.copy(purchases = e.us +: st.purchases,
                  lastUs = math.max(st.lastUs, e.us))
                case _          => st.copy(lastUs = math.max(st.lastUs, e.us))
              }
            }
            state.update(st)
            // a straggler user's seal instant may already be behind the
            // watermark (setTimeoutTimestamp would throw); reschedule to
            // the next watermark tick instead — the row was admitted, so
            // the funnel seals at the earliest legal moment
            state.setTimeoutTimestamp(
              math.max(st.lastUs / 1000 + FunnelGapMs,
                state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Gate form of [[funnelUsers]]: the sentinel-flushed Append file sink
    * ([[stagedSentinelStream]] + [[runAppendToFileSink]]) — the FIRST
    * sentinel's watermark (+5 h − 2 h delay = +3 h) strictly clears
    * every real user's +2.5 h seal, so the second sentinel's data batch
    * fires all the timeouts and every funnel lands in the distributed
    * sink before the query stops. Sentinel
    * events carry no view/click/purchase types, so they can neither
    * start a funnel nor perturb one. */
  def runFunnelUsersBatch(s: SparkSession, d: String): DataFrame =
    runAppendToFileSink(s, funnelUsers(stagedSentinelStream(s, d))
      .toDF()
      .select(col("user_id"),
        expr("timestamp_micros(t1us)").as("t1"),
        expr("timestamp_micros(t2us)").as("t2"),
        expr("timestamp_micros(t3us)").as("t3")))

  // --------------------------------------------- stream-stream interval join
  /** Stream-stream INTERVAL JOIN: every (view, click) pair of the same
    * user with the click inside 30 minutes after the view — the
    * attribution join, run with BOTH sides unbounded. This is the one
    * Structured Streaming capability the rest of the module doesn't
    * exercise: symmetric join state on both streams, bounded by the
    * watermark plus the interval condition (Spark derives each side's
    * state-eviction bound from `click.ts BETWEEN view.ts AND view.ts +
    * 30 min` — views older than watermark − 30 min and clicks older
    * than the watermark are dropped from state).
    *
    * Inner joins emit eagerly on match (no watermark wait), so the gate
    * runs the Append file sink directly; the sentinels exist only to
    * let the final stateful eviction happen before stop — result rows
    * are all out by then. Both sides are branches of ONE staged source
    * stream (a supported stream self-join), keyed on `user_id` in the
    * equi-condition so the state store partitions by user. */
  def intervalJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val clicks = events.filter(col("event_type") === "click")
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    views.join(clicks,
        expr("v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL 30 MINUTES"))
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("lag_micros"))
  }

  /** Gate form of [[intervalJoin]] through the sentinel-staged source
    * and the Append file sink. */
  def runIntervalJoinBatch(s: SparkSession, d: String): DataFrame =
    runAppendToFileSink(s, intervalJoin(stagedSentinelStream(s, d)))

  /** DuckDB twin: the plain batch interval join. */
  val intervalJoinOracle: String =
    """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
      |  CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_micros
      |FROM events v JOIN events c
      |  ON v.user_id = c.user_id
      | AND v.event_type = 'view' AND c.event_type = 'click'
      | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE""".stripMargin

  /** DuckDB twin: the [[graft.operators.Events.eventFunnelOracle]] CTE
    * chain at the per-user grain, left-joined so non-converting viewers
    * keep their NULL steps. */
  val funnelUsersOracle: String =
    """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |    WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (SELECT e.user_id, min(e.ts) AS t2
      |    FROM events e JOIN t1 ON e.user_id = t1.user_id
      |    WHERE e.event_type = 'click' AND e.ts >= t1.t1 GROUP BY e.user_id),
      |t3 AS (SELECT e.user_id, min(e.ts) AS t3
      |    FROM events e JOIN t2 ON e.user_id = t2.user_id
      |    WHERE e.event_type = 'purchase' AND e.ts >= t2.t2 GROUP BY e.user_id)
      |SELECT t1.user_id, t1.t1, t2.t2, t3.t3
      |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)""".stripMargin
}
