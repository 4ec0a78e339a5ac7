package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}


/** Structured Streaming wrappers for the batch window queries
  * (SURVEY.md §2.8): the same `window($"ts", ...)` expressions run under
  * `readStream` with a watermark, so batch results (what the DuckDB
  * oracle checks) and streaming results agree on closed windows.
  */
object StreamingWindows {

  /** Shuffle/state-store partition count for the bounded oracle-gate
    * stream runs, applied on a CLONED session so the caller's session
    * conf is untouched. A stateful query creates one state store per
    * shuffle partition and commits one delta file per store per
    * microbatch, so its partition count should be sized to the expected
    * STATE-KEY cardinality (Spark's structured-streaming guide: set
    * `spark.sql.shuffle.partitions` before the first checkpoint) — here
    * the key space is event_type × open 1h windows, a few dozen keys,
    * where the session's core-derived default (32 on the bench host)
    * just multiplies per-batch file commits by empty stores. */
  val StateShufflePartitions: Int = 8

  /** A same-context session whose shuffle partitioning is state-sized
    * (see [[StateShufflePartitions]]): memory-sink temp views registered
    * by a stream started from it live in ITS catalog — read them from
    * the returned session. */
  def stateSizedSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions",
      StateShufflePartitions.toString)
    ss
  }

  /** The batch transform shared by both modes: tumbling 1h count+sum per
    * event_type. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("sum_value_cents"))
      .select(unix_timestamp(col("w.start")).as("w_start"),
        col("event_type"), col("n"), col("sum_value_cents"))

  /** Streaming variant: parquet-dir source → watermark → same agg →
    * memory sink. `processAllAvailable` lets a static fixture drive the
    * query synchronously in tests. Output mode is Append — windows are
    * emitted once, when the watermark passes their end, and their state is
    * then EVICTED, so the state store holds only windows newer than
    * (max ts − 2h). (Complete mode would retain every window forever —
    * unbounded state at scale.) */
  def runTumblingStream(spark: SparkSession, dir: String,
                        queryName: String): StreamingQuery =
    startTumbling(spark, dir, queryName, Trigger.ProcessingTime("1 second"))

  /** ONE wiring of the tumbling pipeline (source → watermark → agg →
    * Append memory sink) shared by both trigger modes — the env-gated
    * ProcessingTime suites and the oracle-gated AvailableNow path must
    * never diverge silently (review r20). */
  private def startTumbling(spark: SparkSession, dir: String,
                            queryName: String,
                            trigger: Trigger): StreamingQuery = {
    val events = eventsStream(spark, dir)
    val agg = tumblingAgg(events.withWatermark("ts", "2 hours"))
    agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .trigger(trigger)
      .start()
  }

  /** Bounded run of the tumbling stream: Trigger.AvailableNow processes
    * every available file, runs the watermark-flush (no-data) batch, and
    * STOPS — so a registered query can await termination and read a
    * deterministic closed-window set from the memory sink (q106 brings
    * streaming into the driver's oracle gate this way; the env-gated
    * suites keep the long-running ProcessingTime form). Append mode:
    * exactly the windows whose end the final watermark passed are in
    * the sink — max(ts) − 2h, ms precision. */
  def runTumblingAvailableNow(spark: SparkSession, dir: String,
                              queryName: String): StreamingQuery =
    startTumbling(spark, dir, queryName, Trigger.AvailableNow())

  /** Custom per-key state: running per-user event count + last-seen epoch
    * via mapGroupsWithState — the KeyValueGroupedDataset stateful path
    * (SURVEY.md §2.8's "custom state" extension). */
  final case class UserStat(user_id: Long, n_events: Long, last_epoch: Long)

  /** Streaming events source, schema-adaptive across fixture
    * generations: the read schema is derived from the parquet footer of
    * the SAME directory being streamed ([[graft.Tables.eventsRawSchema]]),
    * and the `ts` rebuild is the shared [[graft.Tables.normalizeEventsTs]]
    * — so the batch loader and this source can never branch differently
    * for one fixture, and callers cannot hand in a schema from another
    * generation.
    *
    * Layout-adaptive too: the fixtures ship `events.parquet` as a single
    * FILE (streamed from `dir` behind a `pathGlobFilter`, since the file
    * stream source wants a directory), but a regenerated fixture using
    * Spark's default write layout would make it a DIRECTORY of part
    * files — which the glob filter would silently exclude (a zero-row
    * stream, not an error). Probe the actual layout through the Hadoop
    * FS API (works on any FileSystem, not just local) and stream the
    * directory itself in that case; a missing path fails loudly here
    * rather than as an empty stream. */
  private def eventsStream(spark: SparkSession, dir: String) = {
    val schema = graft.Tables.eventsRawSchema(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src =
      if (fs.getFileStatus(p).isDirectory)
        spark.readStream.schema(schema).parquet(p.toString)
      else
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
    graft.Tables.normalizeEventsTs(src)
  }

  /** Closed session emitted by [[sessionizeStream]]: [s_start, s_last]
    * event-time bounds (epoch seconds), event count, value cents. */
  final case class SessionOut(user_id: Long, s_start: Long, s_last: Long,
                              n_events: Long, sum_cents: Long)
  /** State record for the open tail session (public: the state encoder's
    * generated code needs constructor access). */
  final case class OpenSession(start: Long, last: Long, n: Long,
                               cents: Long)

  /** Custom sessionization with explicit state — the
    * `flatMapGroupsWithState` path (vs the declarative
    * `session_window` of q53): per user, events merge into a session
    * while gaps stay under `gapSec`; a closed session is emitted exactly
    * once (Append). The open tail session lives in the state store with
    * an EVENT-TIME timeout at (last + gap): when the watermark passes it,
    * the timeout callback emits the session and clears the state — so
    * state size is bounded by the number of users active within one gap
    * of the watermark, regardless of total history. */
  def sessionizeStream(spark: SparkSession, dir: String,
                       queryName: String,
                       gapSec: Long = 1800L): StreamingQuery = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .withWatermark("ts", "0 seconds")
      .as[(Long, java.sql.Timestamp, Long)]
    val sessions = ev.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed (last + gap): the open session is final
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.start, s.last, s.n, s.cents))
          } else {
            val batch = rows.toSeq
              .map { case (_, ts, cents) => (ts.getTime / 1000, cents) }
              .sortBy(_._1)
            var open = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            batch.foreach { case (t, cents) =>
              open match {
                case Some(s) if t - s.last < gapSec =>
                  open = Some(OpenSession(s.start, t, s.n + 1, s.cents + cents))
                case Some(s) =>
                  closed += SessionOut(uid, s.start, s.last, s.n, s.cents)
                  open = Some(OpenSession(t, t, 1L, cents))
                case None =>
                  open = Some(OpenSession(t, t, 1L, cents))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.last + gapSec) * 1000)
            }
            closed.result().iterator
          }
      }
    sessions.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }

  /** Stream-static enrichment join: the events stream joined with a
    * static dimension (here: per-user historical totals computed batch-
    * side). The static side is planned once per micro-batch; when it is
    * broadcastable the stream never shuffles — the standard shape for
    * enriching a 100 TB/day event stream with reference data. */
  def enrichStream(spark: SparkSession, dir: String,
                   staticDim: org.apache.spark.sql.DataFrame,
                   queryName: String): StreamingQuery = {
    val events = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val enriched = events.join(broadcast(staticDim), Seq("user_id"), "left")
    enriched.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .start()
  }

  /** Streaming exact dedup — the ingest-time form of the batch
    * content-hash dedup (q30): emit the first event per content digest,
    * drop repeats. Uses `dropDuplicatesWithinWatermark`, NOT plain
    * `dropDuplicates`: on an unbounded stream the latter keeps every
    * digest ever seen in the state store (unbounded growth — the same
    * class of bug as Complete-mode windows), while the within-watermark
    * form evicts digests once the watermark passes them, so state is
    * bounded by the distinct-digest arrival rate × horizon. The price is
    * semantic and explicit: a duplicate arriving more than `horizon`
    * after its original is re-emitted — exactly-once dedup inside the
    * horizon, at-least-once beyond it (the standard streaming-ingest
    * contract; a periodic batch dedup compacts the far tail). */
  def dedupStream(spark: SparkSession, dir: String,
                  queryName: String,
                  horizon: String = "24 hours"): StreamingQuery = {
    val hashed = eventsStream(spark, dir)
      .select(col("ts"), col("event_id"),
        md5(concat_ws("|", col("user_id"), col("event_type"),
          col("value"))).as("content_hash"))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("content_hash")
    hashed.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }

  /** Stream-stream interval join — the streaming form of the batch band
    * join (q67): every click pairs with the views of the preceding 60
    * seconds, both sides unbounded streams. Both inputs carry a
    * watermark and the join condition bounds event-time distance, which
    * is exactly what Spark needs to EVICT join state: a buffered view
    * can be dropped once the click watermark passes (v_ts + 60s), so
    * state holds only the last (watermark + 60s) of each side instead
    * of the whole history. Two structural requirements meet here:
    * Spark rejects stream-stream joins with NO equality predicate, and
    * Append mode rejects joins with unbounded state — the div-bucket
    * from [[graft.ops.RelationalOps.bandJoin]] satisfies the first
    * (clicks exploded to buckets {b, b−1}, views equi-matched on their
    * single bucket; same no-pair-lost argument, seconds truncation
    * included), the watermarked range condition the second. Inner join:
    * matches emit eagerly per micro-batch; no watermark wait on output. */
  def intervalJoinStream(spark: SparkSession, dir: String,
                         queryName: String,
                         deltaSec: Long = 60L): StreamingQuery = {
    val clicks = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
      .withColumn("__cb", explode(array(
        expr(s"unix_timestamp(c_ts) div $deltaSec"),
        expr(s"unix_timestamp(c_ts) div $deltaSec") - 1)))
    val views = eventsStream(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
      .withColumn("__vb", expr(s"unix_timestamp(v_ts) div $deltaSec"))
    clicks.join(views,
        col("__cb") === col("__vb") &&
        expr(s"v_ts >= c_ts - interval $deltaSec seconds AND v_ts <= c_ts"))
      .select(col("c_id"), col("v_id"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }

  /** Idempotent parquet egress via foreachBatch. Structured Streaming's
    * failure contract is batchId-stable replay: a micro-batch that dies
    * mid-write is re-executed with the SAME batchId over the SAME input
    * offsets. Writing every batch to a batchId-keyed directory in
    * overwrite mode turns replay into a harmless rewrite — no duplicate
    * rows, no partial-file leftovers — which is the exactly-once file
    * sink without a transactional store. The `batch=<id>` directory
    * names double as a hive partition column on read. */
  def parquetSinkStream(spark: SparkSession, dir: String,
                        outDir: String): StreamingQuery = {
    val events = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, outDir, batchId)
      }
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }

  /** The idempotent per-batch writer — public so tests can simulate a
    * batchId replay directly. */
  def writeBatch(batch: DataFrame, outDir: String, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

  def userStatsStream(spark: SparkSession, dir: String,
                      queryName: String): StreamingQuery = {
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select(col("user_id").cast("long"),
        unix_timestamp(col("ts")).as("epoch"))
      .as[(Long, Long)]
    val stats = events.groupByKey(_._1)
      .mapGroupsWithState[UserStat, UserStat](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(uid, 0L, 0L))
          val batch = rows.toSeq
          val next = UserStat(uid, prev.n_events + batch.size,
            math.max(prev.last_epoch, batch.map(_._2).max))
          state.update(next)
          next
      }
    stats.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName(queryName)
      .start()
  }
}
