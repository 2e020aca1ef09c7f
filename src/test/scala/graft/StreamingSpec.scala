package graft

import graft.pipeline.KgPipeline
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Sink
import graft.webtext.WebtextGen
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Structured-streaming twins driven synchronously by parquet batches. */
class StreamingSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  test("append-mode watermarked mention counts equal the batch extraction") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_in_app").toString
    val web = WebtextGen.generate(spark, 300, 4)
      .select(monotonically_increasing_id().as("doc_id"),
        graft.extract.HtmlExtract.extractBinary(col("html")).as("text"))
    web.write.mode("overwrite").parquet(dir)
    val sentinelDir = Files.createTempDirectory("stream_sentinel").toString
    Seq((-1L, "")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(sentinelDir)
    val schema = spark.read.parquet(dir).schema
    val q = StreamingOps.streamingMentions(spark, Seq(dir, sentinelDir), schema,
      Sink.Memory("mentions_append_test"))
    assert(q.awaitTermination(120000), "stream did not drain")
    val streamed = spark.sql("SELECT mention, freq FROM mentions_append_test")
      .as[(String, Long)].collect().toMap
    val batch = KgPipeline.extractMentions(web, "text", 1L)
      .as[(String, Long)].collect().toMap
    // append mode emitted the CLOSED window: counts must equal batch exactly
    assert(streamed == batch)
  }

  test("one-directory append variant equals the batch extraction (q31 staging shape)") {
    import spark.implicits._
    // corpus + sentinel staged in ONE directory, read by a single file
    // source — the q31 staging shape; must equal the batch oracle exactly
    // like the two-source variant above
    val dir = Files.createTempDirectory("stream_onedir").toString
    val web = WebtextGen.generate(spark, 300, 4)
      .select(monotonically_increasing_id().as("doc_id"),
        graft.extract.HtmlExtract.extractBinary(col("html")).as("text"))
    web.write.mode("overwrite").parquet(dir)
    Seq((-1L, "")).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = StreamingOps.streamingMentions(spark, Seq(dir), schema,
      Sink.Memory("mentions_onedir_test"))
    assert(q.awaitTermination(120000), "stream did not drain")
    val streamed = spark.sql("SELECT mention, freq FROM mentions_onedir_test")
      .as[(String, Long)].collect().toMap
    val batch = KgPipeline.extractMentions(web, "text", 1L)
      .as[(String, Long)].collect().toMap
    assert(streamed == batch)
  }

  test("parquet file sink: incremental batches + mid-stream restarts match the batch oracle") {
    import spark.implicits._
    val docsDir = Files.createTempDirectory("psink_in").toString
    val outDir = Files.createTempDirectory("psink_out").toString + "/out"
    val ckptDir = Files.createTempDirectory("psink_ckpt").toString
    val sentinelDir = Files.createTempDirectory("psink_sentinel").toString
    val web = WebtextGen.generate(spark, 300, 4)
      .select(monotonically_increasing_id().as("doc_id"),
        graft.extract.HtmlExtract.extractBinary(col("html")).as("text"))
      .persist()
    def drain(): Unit = {
      val q = StreamingOps.streamingMentions(spark, Seq(docsDir, sentinelDir), web.schema,
        Sink.Parquet(outDir, ckptDir))
      assert(q.awaitTermination(120000), "stream did not drain")
    }
    // three incremental arrival batches, the query RESTARTED (same
    // checkpoint) between each — file-source offsets, watermark, and agg
    // state all resume from the checkpoint
    for (b <- 0 until 3) {
      web.filter(pmod(col("doc_id"), lit(3)) === b)
        .coalesce(1).write.mode("append").parquet(docsDir)
      drain()
    }
    // no-new-data restart: must be a no-op (exactly-once), not a re-emit
    drain()
    // sentinel arrives → watermark passes the corpus window → final flush
    Seq((-1L, "")).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(sentinelDir)
    drain()
    val streamed = spark.read.parquet(outDir)
      .as[(String, Long)].collect().toMap
    val batch = KgPipeline.extractMentions(web, "text", 1L)
      .as[(String, Long)].collect().toMap
    web.unpersist()
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("q31 streams a single-file parquet table via symlink dir (driver shape)") {
    import spark.implicits._
    val streamed = SparkEntry.queries("q31_streaming_mentions")(spark, sf)
      .as[(String, Long)].collect().toMap
    val batch = KgPipeline.extractMentions(
        spark.read.parquet(s"$sf/documents.parquet"), "text", 3L)
      .as[(String, Long)].collect().toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  /** A parquet part file of a Spark write under `dir`. */
  private def somePart(dir: String): Path =
    Files.list(Paths.get(dir)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get

  test("q31 staging: a corpus part named sentinel.parquet streams with the corpus") {
    import spark.implicits._
    val sfDir = Files.createTempDirectory("q31_collide").toString
    val docsDir = s"$sfDir/documents.parquet"
    spark.read.parquet(s"$sf/documents.parquet").repartition(3)
      .write.parquet(docsDir)
    val part = somePart(docsDir)
    Files.move(part, part.resolveSibling("sentinel.parquet"))
    val streamed = SparkEntry.queries("q31_streaming_mentions")(spark, sfDir)
      .as[(String, Long)].collect().toMap
    val batch = KgPipeline.extractMentions(spark.read.parquet(docsDir), "text", 3L)
      .as[(String, Long)].collect().toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("q31 staging fails loudly on an empty or nested documents directory") {
    val empty = Files.createTempDirectory("q31_empty").toString
    Files.createDirectory(Paths.get(empty, "documents.parquet"))
    val nested = Files.createTempDirectory("q31_nested").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .write.parquet(s"$nested/documents.parquet/lang=en")
    for (d <- Seq(nested, empty)) {
      val e = intercept[IllegalArgumentException](
        SparkEntry.queries("q31_streaming_mentions")(spark, d))
      assert(e.getMessage.contains(s"$d/documents.parquet"), e.getMessage)
    }
  }

  test("q33 sentinel gate: an events max ts near Long.MaxValue takes the dynamic sentinel") {
    import spark.implicits._
    // max ts half a day inside the 366-day margin below Long.MaxValue
    // micros: maxTs + margin overflows Long, while the dynamic sentinel
    // (maxTs + 365 days) still fits
    val day = 24L * 3600 * 1000000L
    val minute = 60000000L
    val top = Long.MaxValue - 365 * day - day / 2
    val sfDir = Files.createTempDirectory("q33_gate").toString
    // user 1: two sessions (a 140-minute gap); user 2: one session ending at the max
    Seq((1L, top - 180 * minute, 1L), (2L, top - 170 * minute, 1L),
      (3L, top - 30 * minute, 1L), (4L, top - 10 * minute, 2L), (5L, top, 2L))
      .toDF("event_id", "ts_us", "user_id")
      .select(col("event_id"),
        timestamp_micros(col("ts_us")).cast("timestamp_ntz").as("ts"), col("user_id"))
      .coalesce(1).write.parquet(s"$sfDir/tmp")
    Files.move(somePart(s"$sfDir/tmp"), Paths.get(sfDir, "events.parquet"))
    val streamed = SparkEntry.queries("q33_streaming_sessions")(spark, sfDir)
      .select(col("user_id").cast("long"), col("session_seq"), col("n_events"),
        unix_micros(col("session_start")), unix_micros(col("session_end")))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val batch = graft.ops.EventOps.sessionize(spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("user_id").cast("long"), col("session_seq").cast("long"),
        col("n_events").cast("long"), unix_micros(col("session_start").cast("timestamp")),
        unix_micros(col("session_end").cast("timestamp")))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.size == 3)
    assert(streamed == batch)
  }

  test("stateful flatMapGroupsWithState sessionization equals the batch twin") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_sess").toString
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"))
    // sentinel: far-future event advances the watermark so every open
    // session times out and flushes in the final no-data batch
    val sentinel = events.limit(1).select(
      lit(-1L).as("event_id"),
      (col("ts") + expr("INTERVAL 365 DAYS")).as("ts"),
      lit(-1L).as("user_id"))
    events.union(sentinel).coalesce(1).write.mode("overwrite").parquet(dir)
    val q = StreamingOps.streamingSessions(spark, dir,
      spark.read.parquet(dir).schema, Sink.Memory("sess_stream_test"))
    assert(q.awaitTermination(120000), "stream did not drain")
    val streamed = spark.table("sess_stream_test")
      .filter(col("user_id") >= 0)
      .select("user_id", "session_seq", "n_events", "session_start", "session_end")
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet
    val batch = graft.ops.EventOps.sessionize(events)
      .select(col("user_id").cast("long"), col("session_seq").cast("long"),
        col("n_events").cast("long"), col("session_start"), col("session_end"))
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("sessions parquet sink: mid-stream restart resumes open-session state exactly") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("sess_sink_in").toString
    val outDir = Files.createTempDirectory("sess_sink_out").toString + "/out"
    val ckpt = Files.createTempDirectory("sess_sink_ck").toString
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id")).persist()
    // split the feed at its temporal midpoint: sessions spanning the cut
    // are left OPEN in the checkpointed GroupState by drain 1 and must be
    // continued (or closed) correctly by drain 2 after a full query restart
    val (tMin, tMax) = events.agg(min("ts"), max("ts"))
      .as[(java.sql.Timestamp, java.sql.Timestamp)].head()
    val cut = new java.sql.Timestamp((tMin.getTime + tMax.getTime) / 2)
    def drain(): Unit = {
      val q = StreamingOps.streamingSessions(spark, inDir,
        events.schema, Sink.Parquet(outDir, ckpt))
      assert(q.awaitTermination(120000), "stream did not drain")
    }
    events.filter(col("ts") < lit(cut)).coalesce(1).write.mode("append").parquet(inDir)
    drain()
    events.filter(col("ts") >= lit(cut)).coalesce(1).write.mode("append").parquet(inDir)
    drain()
    drain() // no-new-data restart: exactly-once, no re-emit
    // sentinel advances the watermark a year: every open session times out
    val flushTs = new java.sql.Timestamp(tMax.getTime + 365L * 86400 * 1000)
    Seq((-1L, flushTs, -1L)).toDF("event_id", "ts", "user_id")
      .select(events.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    val streamed = spark.read.parquet(outDir)
      .filter(col("user_id") >= 0)
      .select("user_id", "session_seq", "n_events", "session_start", "session_end")
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet
    val batch = graft.ops.EventOps.sessionize(events)
      .select(col("user_id").cast("long"), col("session_seq").cast("long"),
        col("n_events").cast("long"), col("session_start"), col("session_end"))
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet
    events.unpersist()
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("session tombstones are reclaimed after the TTL (bounded state store)") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("sess_ttl_in").toString
    val outDir = Files.createTempDirectory("sess_ttl_out").toString + "/out"
    val ckpt = Files.createTempDirectory("sess_ttl_ck").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(hours: Double) = new java.sql.Timestamp(t0.getTime + (hours * 3600 * 1000).toLong)
    def write(rows: Seq[(Long, java.sql.Timestamp, Long)]): Unit =
      rows.toDF("event_id", "ts", "user_id").coalesce(1).write.mode("append").parquet(inDir)
    write(Seq((1L, t0, 7L)))
    val schema = spark.read.parquet(inDir).schema
    val dayMicros = 24L * 3600 * 1000000L
    def drain(): Unit = {
      val q = StreamingOps.streamingSessions(spark, inDir, schema, Sink.Parquet(outDir, ckpt),
        gapMinutes = 30, tombstoneTtlMicros = dayMicros)
      assert(q.awaitTermination(120000), "stream did not drain")
    }
    drain()
    write(Seq((-1L, at(2), -1L))) // watermark past gap: session 1 closes, tombstone set
    drain()
    write(Seq((-2L, at(24 * 10), -2L))) // watermark past tombstone TTL: state reclaimed
    drain()
    write(Seq((2L, at(24 * 20), 7L))) // user 7 returns AFTER the TTL horizon
    write(Seq((-3L, at(24 * 40), -3L))) // flush
    drain()
    val seqs = spark.read.parquet(outDir).filter(col("user_id") === 7L)
      .orderBy("session_start").select("session_seq").as[Long].collect().toSeq
    // the documented TTL tradeoff: numbering restarts at 1 after the
    // tombstone is reclaimed (an unreclaimed tombstone would yield seq 2 —
    // and an unbounded state store)
    assert(seqs == Seq(1L, 1L), s"got $seqs")
  }

  test("streaming hourly event agg produces windows under watermark") {
    import spark.implicits._
    // readStream needs a directory, not a single parquet file
    val dir = Files.createTempDirectory("stream_ev").toString
    val events = spark.read.parquet(s"$sf/events.parquet")
    events.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = StreamingOps.streamingEventAgg(spark, dir, schema, Sink.Memory("eventagg_test"))
    assert(q.awaitTermination(120000), "stream did not drain")
    // append mode with a watermark emits only windows the watermark has
    // closed; each must carry the batch count for its (window, type) key
    val streamed = spark.table("eventagg_test")
      .select(unix_micros(col("window.start")), col("event_type"), col("n_events"))
      .as[(Long, String, Long)].collect()
    val batch = graft.ops.EventOps.windowedAgg(events.withColumn("ts", col("ts").cast("timestamp")))
      .select(unix_micros(col("win_start")), col("event_type"), col("n_events"))
      .as[(Long, String, Long)].collect().map { case (w, e, n) => (w, e) -> n }.toMap
    assert(streamed.length > 0)
    for ((w, e, n) <- streamed)
      assert(batch.get((w, e)).contains(n), s"window $w type $e: streamed $n, batch ${batch.get((w, e))}")
  }
}
