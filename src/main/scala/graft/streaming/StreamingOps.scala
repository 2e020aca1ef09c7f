package graft.streaming

import graft.pipeline.KgPipeline
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-streaming twins of the batch operators: a continuously
  * arriving webtext/event feed drives the same aggregation logic through
  * readStream + watermark. The reference is batch-only (SURVEY.md §1.3);
  * these exist for the streaming-ingest path of a production corpus where
  * crawl snapshots land incrementally.
  */
object StreamingOps {

  /** Default tombstone TTL for the stateful sessionizer (see sessionFn):
    * one constant shared by every signature that defaults it. */
  val DefaultTombstoneTtlMicros: Long = 30L * 24 * 3600 * 1000000L

  /** Where a streaming twin writes. Every twin runs in append mode under
    * an AvailableNow trigger: each start drains the files that have
    * arrived so far and terminates. */
  sealed trait Sink
  object Sink {
    /** In-memory table `queryName` (the test and bench harness). The sink
      * itself is non-durable, so its checkpoint goes to ephemeral scratch. */
    final case class Memory(queryName: String) extends Sink
    /** Parquet FILE sink with a caller-owned checkpoint — the shape an
      * actually unbounded ingest runs with. Re-starting with the same
      * checkpoint resumes exactly-once: file-source offsets, the watermark
      * and all aggregation/GroupState live in the checkpoint, so
      * incremental batches and mid-stream restarts are the normal mode of
      * operation, not a special case. */
    final case class Parquet(outDir: String, checkpointDir: String) extends Sink
  }

  /** The one writeStream call site of the streaming twins. */
  private def start(df: Dataset[_], sink: Sink): StreamingQuery = {
    val w = df.writeStream.outputMode("append").trigger(Trigger.AvailableNow())
    (sink match {
      case Sink.Memory(queryName) =>
        w.format("memory").queryName(queryName)
          .option("checkpointLocation", graft.Scratch.dir("stream-ck"))
      case Sink.Parquet(outDir, checkpointDir) =>
        w.format("parquet").option("path", outDir)
          .option("checkpointLocation", checkpointDir)
    }).start()
  }

  /** Append-mode, watermarked streaming mention counts: the same bigram
    * extraction as KgPipeline.extractMentions over (doc_id, text) rows
    * arriving in `dirs`. Bounded state: windows are evicted once the
    * watermark passes them. Corpus rows are stamped into an ingest-hour
    * window; a sentinel row (doc_id < 0, empty text — yields no mentions)
    * arrives 3 hours later and advances the watermark past the corpus
    * window, so the final no-data micro-batch flushes the closed window's
    * counts to the sink. The watermark is attached BEFORE the mention
    * explode so the mention-less sentinel still advances it.
    *
    * The sentinel may sit in the corpus directory or in a directory of its
    * own: the ingest stamp derives from doc_id (a column, not the source),
    * and AvailableNow snapshots every file into the same data batch either
    * way. One directory builds one file source with no union node — one
    * file listing and offset log, the q31 staging shape. */
  def streamingMentions(spark: SparkSession, dirs: Seq[String], schema: StructType,
                        sink: Sink): StreamingQuery = {
    require(dirs.nonEmpty, "streamingMentions needs at least one input directory")
    val rows = dirs.map(d => spark.readStream.schema(schema).parquet(d)
      .select(col("doc_id"), col("text"))).reduce(_ union _)
    val base = lit("2026-01-01 00:30:00").cast("timestamp")
    val flush = lit("2026-01-01 03:00:00").cast("timestamp")
    start(rows
      .withColumn("ts", when(col("doc_id") >= 0, base).otherwise(flush))
      .withWatermark("ts", "1 hour")
      .select(col("ts"), explode(KgPipeline.mentionBigrams(col("text"))).as("mention"))
      .groupBy(window(col("ts"), "1 hour"), col("mention"))
      .agg(count(lit(1)).as("freq"))
      .select(col("mention"), col("freq")), sink)
  }

  /** Event for the stateful sessionizer. */
  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  /** Open-session state (event-time micros). */
  case class SessState(start: Long, end: Long, n: Long, seq: Long)
  case class SessOut(user_id: Long, session_seq: Long, n_events: Long,
                     session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

  private def toMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
  private def toTs(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(micros / 1000L)
    t.setNanos(((micros % 1000000L) * 1000L).toInt)
    t
  }

  /** Custom-state sessionization over `flatMapGroupsWithState` — the
    * unbounded-stream twin of EventOps.sessionize (same gap rule: a new
    * session when > gap since the user's previous event; same (ts,
    * event_id) ordering; same 1-based per-user numbering). Sessions are
    * emitted when closed by a newer event or by the event-time timeout
    * once the watermark passes session_end + gap.
    *
    * A timed-out session leaves a TOMBSTONE (n = 0, carrying the last
    * emitted seq) rather than removing the state: per-user session
    * numbering is global history in the batch twin, and `state.remove()`
    * restarted the user's next session at seq 1 (caught by the
    * restart-resumption test — invisible in single-drain runs, where
    * timeouts only ever fire in the final no-data batch). Open-session
    * state is bounded by concurrently-open sessions. Tombstones get their
    * own (long) event-time timeout — `tombstoneTtlMicros`, default 30 days
    * past the session's end — after which the state is REMOVED, so the
    * store no longer grows monotonically with every user ever seen: it is
    * bounded by users active within the TTL horizon. The documented
    * tradeoff: a user returning after the TTL restarts numbering at
    * session_seq = 1 (the batch twin, which always sees full history,
    * would continue counting — exact batch parity over an unbounded
    * stream requires unbounded state; the TTL makes the bound explicit
    * and configurable instead of implicit and infinite).
    *
    * Checkpoint-upgrade caveat: tombstones written by a pre-TTL build
    * carry no registered timeout, and `flatMapGroupsWithState` never
    * invokes a group that has neither new events nor a due timeout — so
    * those specific entries are unreclaimable until their user returns
    * (the next event re-tombstones them WITH the TTL). The TTL bound
    * therefore holds for all state created on this build; resuming an
    * old checkpoint keeps its legacy tombstones until each user's next
    * event, or start a fresh checkpoint to drop them at once. */
  def sessionFn(gapMicros: Long,
                tombstoneTtlMicros: Long = DefaultTombstoneTtlMicros)(
      user: Long, rows: Iterator[SessEvent],
      state: org.apache.spark.sql.streaming.GroupState[SessState]): Iterator[SessOut] = {
    def emit(s: SessState) = SessOut(user, s.seq, s.n, toTs(s.start), toTs(s.end))
    if (!rows.hasNext && state.hasTimedOut) {
      val s = state.get
      if (s.n == 0L) { state.remove(); Iterator.empty } // tombstone TTL expired: reclaim
      else {
        state.update(SessState(s.end, s.end, 0L, s.seq)) // tombstone
        // TTL anchored at the CURRENT watermark, not session end: the
        // watermark may already be far past end + gap when this fires
        // (setTimeoutTimestamp below the watermark throws)
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + tombstoneTtlMicros / 1000L)
        Iterator(emit(s))
      }
    } else {
      val evs = rows.toArray.sortBy(e => (toMicros(e.ts), e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
      var baseSeq = 0L
      var cur = state.getOption match {
        case Some(s) if s.n == 0L => baseSeq = s.seq; None // resume numbering after a timeout
        case other => other
      }
      for (e <- evs) {
        val t = toMicros(e.ts)
        cur match {
          case Some(s) if t - s.end <= gapMicros =>
            // min the start too: a late-but-above-watermark event from a
            // later BATCH can predate the open session's first event; the
            // batch twin (full history, sorted) reports min(ts) as
            // session_start. (Residual divergence, documented: an event
            // predating start - gap would batch-wise form its own earlier
            // session; Append mode cannot re-emit, so it merges here.)
            cur = Some(s.copy(start = math.min(s.start, t),
              end = math.max(s.end, t), n = s.n + 1))
          case Some(s) =>
            out += emit(s)
            cur = Some(SessState(t, t, 1L, s.seq + 1))
          case None =>
            cur = Some(SessState(t, t, 1L, baseSeq + 1))
        }
      }
      for (s <- cur) {
        state.update(s)
        state.setTimeoutTimestamp((s.end + gapMicros) / 1000L + 1L)
      }
      out.iterator
    }
  }

  /** Streaming gap-sessionization: watermarked event stream →
    * groupByKey(user) → flatMapGroupsWithState(EventTimeTimeout). A
    * sentinel user (user_id < 0) with a far-future timestamp flushes the
    * watermark on finite inputs; its own session is filtered by readers.
    * With a [[Sink.Parquet]] checkpoint, sessions left open by one drain
    * are continued or closed correctly by the next. */
  def streamingSessions(spark: SparkSession, inputDir: String, schema: StructType,
                        sink: Sink, gapMinutes: Int = 30,
                        tombstoneTtlMicros: Long = DefaultTombstoneTtlMicros): StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    start(spark.readStream.schema(schema).parquet(inputDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("event_id").cast("long").as("event_id"))
      .withWatermark("ts", "1 minute")
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionFn(gapMinutes * 60000000L, tombstoneTtlMicros)), sink)
  }

  /** Streaming hourly event aggregation with a watermark (append mode). */
  def streamingEventAgg(spark: SparkSession, inputDir: String, schema: StructType,
                        sink: Sink): StreamingQuery =
    start(spark.readStream.schema(schema).parquet(inputDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value")), sink)
}
