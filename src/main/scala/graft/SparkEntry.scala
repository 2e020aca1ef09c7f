package graft

import graft.ops.{EventOps, SimOps, TaxoQueries, TextOps}
import graft.pipeline.KgPipeline
import graft.spark.GraphOps
import graft.webtext.WebtextGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is an implemented operator from SURVEY.md §2 (or the
  * training-data-pipeline family); each `oracleSql` entry is the equivalent
  * DuckDB SQL over the same parquet tables. Money/value aggregates use
  * integer cents/millis so Spark and DuckDB hash bit-identically; all hashes
  * are md5-derived for the same reason.
  */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"
  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /** Static resource fixture `/graft/<name>` copied to scratch once per
    * JVM; returns the copy's path. The streaming sentinels are CONSTANTS of
    * their query definitions, so they ship as resources instead of paying
    * a one-row Spark write job on every fresh-JVM leg. */
  private val resourceCopies = new java.util.concurrent.ConcurrentHashMap[String, Path]()
  private def resourceFile(name: String): Path =
    resourceCopies.computeIfAbsent(name, { _ =>
      val in = getClass.getResourceAsStream(s"/graft/$name")
      require(in != null, s"missing resource /graft/$name")
      val p = Paths.get(Scratch.dir("res"), name)
      try Files.copy(in, p) finally in.close()
      p
    })

  /** The file stream source needs a directory; the testdata tables are
    * single parquet files. Stage `table`'s part file(s) AND the sentinel
    * in ONE fresh scratch directory via symlinks — zero copy, no staging
    * rewrite, one file source. Corpus links carry a `part-` prefix so no
    * part name can collide with the unprefixed sentinel link. Hidden
    * entries (`_`/`.` prefix) are skipped as Spark's own reader skips them;
    * a visible subdirectory (a partitioned or nested layout) or a table
    * with no part file fails loudly instead of streaming an empty corpus. */
  private def stageWithSentinel(sfDir: String, table: String, sentinelPath: Path): String = {
    // absolute target: a relative sfDir would store a relative link that
    // the OS resolves against the scratch dir — a dangling symlink
    val target = Paths.get(t(sfDir, table)).toAbsolutePath
    val parts =
      if (!Files.isDirectory(target)) Seq(target)
      else {
        val ls = Files.list(target)
        val visible = try ls.iterator.asScala.toVector.filterNot { p =>
          val n = p.getFileName.toString
          n.startsWith("_") || n.startsWith(".")
        } finally ls.close()
        visible.find(Files.isDirectory(_)).foreach { d =>
          throw new IllegalArgumentException(
            s"$target: subdirectory ${d.getFileName} is not supported; stage a flat table")
        }
        visible.filter(_.getFileName.toString.endsWith(".parquet"))
      }
    require(parts.nonEmpty, s"$target: no parquet part file to stream")
    val dir = Scratch.dir(s"${table}stage")
    for (p <- parts) Files.createSymbolicLink(Paths.get(dir, s"part-${p.getFileName}"), p)
    Files.createSymbolicLink(Paths.get(dir, "sentinel.parquet"), sentinelPath)
    dir
  }

  /** q31 staging: the documents table plus the constant one-row flush
    * sentinel (doc_id = -1, empty text), memoized per (JVM, sfDir). */
  private val q31StageDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q31StageDir(sfDir: String): String =
    q31StageDirs.computeIfAbsent(sfDir,
      _ => stageWithSentinel(sfDir, "documents", resourceFile("q31-sentinel.parquet")))

  /** q33 staging: events + a far-future sentinel row (user_id = -1) that
    * advances the watermark so every open session times out and flushes —
    * built once per (JVM, sfDir).
    *
    * Sentinel ts must provably exceed every session's end + gap. The
    * driver reads max(ts) from the events file's parquet FOOTER statistics
    * (~10 ms — the same column stats predicate pushdown trusts) and, when
    * the committed year-3000 sentinel fixture
    * (src/main/resources/graft/q33-sentinel.parquet, schema byte-matched
    * to the dynamic write: INT64 TIMESTAMP(MICROS,false)) clears max(ts)
    * by > 366 days, stages that — no Spark job at all. Any mismatch
    * (multi-file table, non-NTZ-micros ts, missing stats, or events within
    * 366 days of year 3000) falls back to the dynamic staging: an
    * aggregation job writes max(ts) + 365 days as a one-row parquet.
    * Session output is invariant to the sentinel's ts value once it is
    * past every session end + gap: all open sessions time out in the flush
    * batch either way, and the sentinel user's own row is filtered by the
    * reader (user_id >= 0). */
  private val q33Dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val Year3000Micros = 32503680000000000L // 3000-01-01T00:00:00 (NTZ micros)
  private def q33EventsDir(s: SparkSession, sfDir: String): String =
    q33Dirs.computeIfAbsent(sfDir, { _ =>
      val marginMicros = 366L * 24 * 3600 * 1000000L
      val sentinel = footerMaxTsMicros(s, t(sfDir, "events")) match {
        // subtract from the constant: maxTs + margin can overflow Long
        case Some(maxTs) if maxTs < Year3000Micros - marginMicros =>
          resourceFile("q33-sentinel.parquet")
        case _ =>
          val events = s.read.parquet(t(sfDir, "events"))
          val sentDir = Scratch.dir("q33sentinel")
          events.agg(max(col("ts")).as("ts")).select(lit(-1L).as("event_id"),
            (col("ts") + expr("INTERVAL 365 DAYS")).as("ts"), lit(-1L).as("user_id"))
            .coalesce(1).write.mode("overwrite").parquet(sentDir)
          Files.list(Paths.get(sentDir))
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().orElseThrow(() =>
              new IllegalStateException(s"no parquet part written under $sentDir"))
      }
      stageWithSentinel(sfDir, "events", sentinel)
    })

  /** max(ts) in micros from a SINGLE parquet file's footer column
    * statistics — a driver-side metadata read with no Spark job. Returns
    * None (caller falls back to an aggregation job) unless every row group
    * carries non-null INT64 TIMESTAMP(MICROS, isAdjustedToUTC = false)
    * stats for `ts` — the NTZ-micros shape the committed static sentinel
    * fixture matches; any other layout must keep the dynamic staging so
    * the directory's two files agree on the ts type. */
  private def footerMaxTsMicros(s: SparkSession, path: String): Option[Long] = try {
    if (!Files.isRegularFile(Paths.get(path))) return None
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), s.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
      val blocks = r.getFooter.getBlocks
      if (blocks.isEmpty) return None
      var maxTs = Long.MinValue
      var b = 0
      while (b < blocks.size()) {
        val cols = blocks.get(b).getColumns
        val ts = (0 until cols.size()).map(cols.get).find(_.getPath.toDotString == "ts")
          .getOrElse(return None)
        val pt = ts.getPrimitiveType
        val okType = pt.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT64 &&
          (pt.getLogicalTypeAnnotation match {
            case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              a.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS && !a.isAdjustedToUTC
            case _ => false
          })
        val st = ts.getStatistics
        if (!okType || st == null || st.isEmpty || !st.hasNonNullValue) return None
        maxTs = math.max(maxTs, st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
        b += 1
      }
      Some(maxTs)
    } finally r.close()
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Flagship: the end-to-end extract→link→insert KG pipeline over the
    * synthetic webtext corpus at tiny scale; returns the triples table. */
  def entry(spark: SparkSession): DataFrame = {
    val ckpt = Scratch.dir("kgentry")
    val corpus = WebtextGen.generate(spark, 400, 8).select(col("url"), col("html"))
    val result = KgPipeline.run(spark, corpus, "html", KgPipeline.domainModels(),
      KgPipeline.PipelineConfig(rounds = 1, maxCandidatesPerRound = 64, minMentionFreq = 2),
      ckpt, htmlInput = true)
    result.triples
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational core -------------------------------------------------
    "q01_pricing_agg" -> ((s, d) => {
      s.read.parquet(t(d, "lineitem"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          sum(cents(col("l_extendedprice"))).as("sum_price_c"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("sum_disc_price_u"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_revenue_by_nation" -> ((s, d) => {
      val li = s.read.parquet(t(d, "lineitem"))
      val o = s.read.parquet(t(d, "orders"))
      val c = s.read.parquet(t(d, "customer"))
      val n = s.read.parquet(t(d, "nation"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revenue_u"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),
    "q03_top_orders" -> ((s, d) => {
      // global top-k: sort-limit first (scales — no single-partition window
      // over the full table), then rank the 10 survivors
      val top = s.read.parquet(t(d, "orders"))
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
        .orderBy(col("price_c").desc, col("o_orderkey").asc)
        .limit(10)
      top.withColumn("rnk",
        row_number().over(Window.orderBy(col("price_c").desc, col("o_orderkey").asc))
          .cast("long"))
    }),
    "q04_order_status" -> ((s, d) =>
      s.read.parquet(t(d, "orders"))
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_c"))
        .orderBy("o_orderstatus", "o_orderpriority")),
    "q05_filter_pushdown" -> ((s, d) =>
      s.read.parquet(t(d, "lineitem"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), cents(col("l_extendedprice")).as("price_c"))
        .orderBy("l_orderkey", "l_linenumber")),
    // --- events ----------------------------------------------------------
    "q06_events_hourly" -> ((s, d) =>
      EventOps.windowedAgg(s.read.parquet(t(d, "events"))
          .withColumn("value", round(col("value") * 1000).cast("long")))
        .select(col("win_start"), col("event_type"), col("n_events"),
          col("sum_value").cast("long").as("sum_value_m"), col("n_users"))
        .orderBy("win_start", "event_type")),
    "q07_sessions" -> ((s, d) =>
      EventOps.sessionize(s.read.parquet(t(d, "events")))
        .select(col("user_id"), col("session_seq").cast("long").as("session_seq"),
          col("n_events"), col("session_start"), col("session_end"))
        .orderBy("user_id", "session_seq")),
    // --- text analysis ---------------------------------------------------
    "q08_text_stats" -> ((s, d) =>
      TextOps.qualityStats(s.read.parquet(t(d, "documents")))
        .select(col("doc_id"), col("n_chars"), col("n_words").cast("long"),
          col("n_punct"), col("n_digits"), col("n_stop_en").cast("long"))
        .orderBy("doc_id")),
    "q09_langid" -> ((s, d) =>
      TextOps.langId(s.read.parquet(t(d, "documents")))
        .select(col("doc_id"), col("en_hits").cast("long"), col("de_hits").cast("long"),
          col("fr_hits").cast("long"), col("lang_pred"))
        .orderBy("doc_id")),
    "q10_token_counts" -> ((s, d) =>
      TextOps.tokenCounts(s.read.parquet(t(d, "documents")))
        .select(col("doc_id"), col("n_words").cast("long"),
          col("n_subtokens").cast("long"), col("n_chars"))
        .orderBy("doc_id")),
    "q11_fingerprints" -> ((s, d) =>
      s.read.parquet(t(d, "documents"))
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    "q12_exact_dups" -> ((s, d) => {
      // the corpus has no natural byte-dups; inject deterministic copies
      // (doc_id+1000000 for doc_id % 7 == 0) so the operator has work
      val docs = s.read.parquet(t(d, "documents")).select("doc_id", "text")
      val copies = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      TextOps.exactDuplicates(docs.union(copies)).orderBy("doc_id")
    }),
    // k=3 shingles: the synthetic corpus has a 28-word vocabulary, so 2-gram
    // posting lists are pathologically dense (570+ docs/shingle → quadratic
    // join); 3-grams have ~10 docs/shingle and the inverted-index join stays
    // linear in corpus size. maxShingleFreq is pinned OFF (Int.MaxValue):
    // this query's oracle is an exact all-pairs Jaccard, and shingle df
    // grows linearly with sf on the bounded vocabulary — at roughly sf1
    // the default 1000 guard would start pruning and silently diverge
    // from the oracle. The guard is a production-dedup semantics choice
    // (see jaccardPairs' exactness contract), not part of this query.
    "q13_jaccard_pairs" -> ((s, d) =>
      TextOps.jaccardPairs(s.read.parquet(t(d, "documents")), k = 3, threshold = 0.12,
          maxShingleFreq = Int.MaxValue)
        .orderBy("a", "b")),
    "q14_minhash_pairs" -> ((s, d) =>
      TextOps.minhashPairs(s.read.parquet(t(d, "documents")), k = 3,
          numHashes = 128, bands = 128, threshold = 0.12)
        .orderBy("a", "b")),
    "q15_simhash" -> ((s, d) =>
      TextOps.simhashSigs(s.read.parquet(t(d, "documents"))).orderBy("doc_id")),
    // --- similarity ------------------------------------------------------
    "q16_cosine_knn" -> ((s, d) => {
      val emb = s.read.parquet(t(d, "embeddings"))
      SimOps.cosineTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"), col("cos"))
        .orderBy("query_id", "rank")
    }),
    "q17_cosine_neardup" -> ((s, d) => {
      // the corpus has no natural near-dup vectors (max cosine ~0.51);
      // inject deterministic perturbed copies (dim-0 + 0.01, cos ≈ 0.9998)
      // so the LSH blocking runs in its actual near-dup regime
      val emb = s.read.parquet(t(d, "embeddings")).select("vec_id", "embedding")
      val perturbed = emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x.cast("double") + 0.01).otherwise(x.cast("double")))
            .as("embedding"))
      val all = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
        .union(perturbed)
      SimOps.cosineNearDupPairs(all, threshold = 0.98, bits = 64, bands = 8)
        .orderBy("a", "b")
    }),
    "q18_ann_lsh" -> ((s, d) => {
      val emb = s.read.parquet(t(d, "embeddings"))
      SimOps.lshCosineTopK(emb, emb.filter(col("vec_id") < 20), k = AnnK,
          bits = AnnBits, bands = AnnBands)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"), col("cos"))
        .orderBy("query_id", "rank")
    }),
    "q32_ann_ivf" -> ((s, d) => {
      val emb = s.read.parquet(t(d, "embeddings"))
      SimOps.ivfTopK(emb, emb.filter(col("vec_id") < 20), k = AnnK,
          nlist = IvfNlist, nProbe = IvfNprobe)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"), col("cos"))
        .orderBy("query_id", "rank")
    }),
    // --- distributed taxonomy graph ops ----------------------------------
    "q19_taxo_ancestors" -> ((s, d) => TaxoQueries.ancestors(s, d)),
    "q20_taxo_leaves" -> ((s, d) => TaxoQueries.leafNodes(s, d)),
    "q21_taxo_depths" -> ((s, d) => TaxoQueries.nodeDepths(s, d)),
    "q22_taxo_tr" -> ((s, d) => TaxoQueries.transitiveReductionEdges(s, d)),
    // --- connected components --------------------------------------------
    "q23_components" -> ((s, d) => {
      val emb = s.read.parquet(t(d, "embeddings"))
      // chain graph: consecutive vec_ids within each label class
      val w = Window.partitionBy("label").orderBy("vec_id")
      val pairs = emb.select(col("vec_id"), col("label"))
        .withColumn("prev", lag("vec_id", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("a"), col("vec_id").as("b"))
      GraphOps.componentsWithIsolated(emb.select(col("vec_id").as("id")), pairs)
        .orderBy("node")
    }),
    // --- KG pipeline (not SQL-expressible: rows-only checks) -------------
    "q24_kg_triples" -> ((s, d) => {
      val ckpt = Scratch.dir("kgq")
      val corpus = s.read.parquet(t(d, "documents"))
      KgPipeline.run(s, corpus, "text", KgPipeline.domainModels(),
        KgPipeline.PipelineConfig(rounds = 2, maxCandidatesPerRound = 200, minMentionFreq = 3),
        ckpt).triples.orderBy("subj", "pred", "obj")
    }),
    "q25_extract_text" -> ((s, d) => {
      val web = WebtextGen.generate(s, 500, 8)
      // extract ONCE per row: two independent extractBinary trees are not
      // reliably deduped by subexpression elimination for a CodegenFallback
      // node, and the HTML scan is the dominant per-row cost here
      web.withColumn("extracted", graft.extract.HtmlExtract.extractBinary(col("html")))
        .select(col("url"),
          sha2(col("extracted"), 256).as("text_sha"),
          (col("extracted") === col("text")).as("matches_golden"))
        .orderBy("url")
    }),
    "q26_mentions" -> ((s, d) =>
      KgPipeline.extractMentions(s.read.parquet(t(d, "documents")), "text", 3L)
        .orderBy("mention")),
    // --- training-data builders (T1-T3) -----------------------------------
    "q27_sub_traindata" -> ((s, d) => graft.ops.TrainDataOps.subsData(s, d)),
    "q28_emb_traindata" -> ((s, d) => graft.ops.TrainDataOps.embData(s, d)),
    "q29_gen_traindata" -> ((s, d) => graft.ops.TrainDataOps.genData(s, d)),
    // --- multimodal binary columns (stub codec; rows-only check) ----------
    "q30_media_features" -> ((s, d) => {
      import s.implicits._
      graft.ops.MediaOps.extractFeatures(graft.ops.MediaOps.synthMedia(s, 200, 8))
        .toDF().select(col("mediaId"), col("kind"), col("nFrames"),
          round(col("meanLuma"), 4).as("mean_luma"),
          round(element_at(col("feature"), 1), 4).as("f0"))
        .orderBy("mediaId")
    }),
    // --- structured-streaming twin under the same oracle -------------------
    "q31_streaming_mentions" -> ((s, d) => {
      // stream the documents table + sentinel from ONE zero-copy symlink
      // dir through a single file source (no staging rewrite, no second
      // source/offset log, no streaming union); append mode + watermark —
      // the bounded-state production shape
      val sink = s"q31_mentions_${System.nanoTime()}"
      val stageDir = q31StageDir(d)
      val q = graft.streaming.StreamingOps.streamingMentions(s, Seq(stageDir),
        s.read.parquet(t(d, "documents")).schema, graft.streaming.StreamingOps.Sink.Memory(sink))
      // awaitTermination returns FALSE on timeout (it does not throw):
      // falling through would read a partially-drained sink — a silently
      // wrong result in Verify and a leaked still-running query in Bench
      require(q.awaitTermination(300000), "q31 stream did not drain in 300 s")
      s.table(sink)
        .filter(col("freq") >= 3)
        .select(col("mention"), col("freq"))
        .orderBy("mention")
    }),
    // stateful custom-state streaming (flatMapGroupsWithState +
    // EventTimeTimeout) under the SAME oracle as the batch q07
    "q33_streaming_sessions" -> ((s, d) => {
      val sink = s"q33_sessions_${System.nanoTime()}"
      val dir = q33EventsDir(s, d)
      val q = graft.streaming.StreamingOps.streamingSessions(
        s, dir, s.read.parquet(dir).schema, graft.streaming.StreamingOps.Sink.Memory(sink))
      require(q.awaitTermination(300000), "q33 stream did not drain in 300 s")
      s.table(sink)
        .filter(col("user_id") >= 0)
        .select(col("user_id").cast("int").as("user_id"), col("session_seq"),
          col("n_events"), col("session_start"), col("session_end"))
        .orderBy("user_id", "session_seq")
    })
  )

  /** DuckDB oracle SQL per query (same tables, same semantics). */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_price_u,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q02_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_u,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q03_top_orders" ->
      """SELECT o_orderkey, price_c, rnk FROM (
        |  SELECT o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c,
        |    ROW_NUMBER() OVER (ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT) DESC, o_orderkey ASC) AS rnk
        |  FROM orders) WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
    "q04_order_status" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c
        |FROM orders GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q05_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_c
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_discount >= 0.05 AND l_quantity < 10
        |ORDER BY 1,2""".stripMargin,
    "q06_events_hourly" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value*1000) AS BIGINT)) AS BIGINT) AS sum_value_m,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q07_sessions" -> oracleSqlQ07,
    "q08_text_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text),'\s+'), x -> x<>'')) AS BIGINT) AS n_words,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text),'\s+'),
        |    x -> list_contains(['the','and','of','to','in','a','is','that','for','it','with','on','as'], x))) AS BIGINT) AS n_stop_en
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q09_langid" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),'\s+'), x -> x<>'') AS tk
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(tk, x -> list_contains(['the','and','of','to','in','a','is','that','for','it','with','on','as'], x))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(tk, x -> list_contains(['der','die','das','und','ist','nicht','ein','eine','zu','mit','von','auf'], x))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(tk, x -> list_contains(['le','la','les','et','est','un','une','de','des','que','pour','dans'], x))) AS BIGINT) AS fr_hits
        |  FROM toks)
        |SELECT doc_id, en_hits, de_hits, fr_hits,
        |  CASE WHEN en_hits > de_hits AND en_hits > fr_hits THEN 'en'
        |       WHEN de_hits > en_hits AND de_hits > fr_hits THEN 'de'
        |       WHEN fr_hits > en_hits AND fr_hits > de_hits THEN 'fr'
        |       ELSE 'und' END AS lang_pred
        |FROM hits ORDER BY doc_id""".stripMargin,
    "q10_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text),'\s+'), x -> x<>'')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_subtokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q11_fingerprints" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q12_exact_dups" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
        |fp AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
        |  FROM docs)
        |SELECT doc_id, CAST(MIN(doc_id) OVER (PARTITION BY f) AS BIGINT) AS canonical_id,
        |  CAST(COUNT(*) OVER (PARTITION BY f) AS BIGINT) AS group_size
        |FROM fp QUALIFY group_size > 1 ORDER BY doc_id""".stripMargin,
    "q13_jaccard_pairs" -> jaccardOracle,
    "q14_minhash_pairs" -> jaccardOracle,
    "q15_simhash" -> simhashOracle,
    "q18_ann_lsh" -> annLshOracle,
    "q32_ann_ivf" -> annIvfOracle,
    // q24/q25/q30 are not SQL-expressible (multi-round pipeline, custom
    // extraction expression, stub media codec); they are gated against
    // committed expected-output fixtures generated at sf0.01 (the driver's
    // Verify scale) by tools/gen_fixtures.sh and independently validated by
    // the reference-parity goldens (q24), the byte-identity ExtractSpec
    // (q25) and MediaSpec value checks (q30).
    "q24_kg_triples" -> fixtureOracle("q24_kg_triples", Seq("subj", "pred", "obj")),
    "q25_extract_text" -> fixtureOracle("q25_extract_text", Seq("url")),
    "q30_media_features" -> fixtureOracle("q30_media_features", Seq("mediaId")),
    "q16_cosine_knn" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cos
        |  FROM q JOIN embeddings c ON q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q17_cosine_neardup" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    list_transform(range(1, len(embedding)+1),
        |      i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.01
        |           ELSE CAST(embedding[i] AS DOUBLE) END)
        |  FROM embeddings WHERE vec_id % 5 = 0)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cos
        |FROM base a JOIN base b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.98
        |ORDER BY 1,2""".stripMargin,
    "q27_sub_traindata" ->
      s"""${TaxoQueries.edgesCte},
         |closure(node, anc) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT c.node, e.dst FROM closure c JOIN edges e ON c.anc = e.src
         |),
         |$taxoNodesCte,
         |hop2 AS (
         |  SELECT DISTINCT node, anc FROM (
         |    SELECT src AS node, dst AS anc FROM edges
         |    UNION ALL
         |    SELECT e1.src, e2.dst FROM edges e1 JOIN edges e2 ON e1.dst = e2.src)),
         |positives AS (
         |  SELECT ns.label AS subclass, na.label AS superclass,
         |    CAST(1 AS BIGINT) AS labels, h.node, h.anc
         |  FROM hop2 h JOIN nodes ns ON h.node = ns.id JOIN nodes na ON h.anc = na.id),
         |uppers AS (
         |  SELECT id, label FROM nodes
         |  WHERE id IN (SELECT DISTINCT dst FROM edges)
         |  ORDER BY id LIMIT 10000),
         |negatives AS (
         |  SELECT subclass, superclass, CAST(0 AS BIGINT) AS labels, node, anc FROM (
         |    SELECT ns.label AS subclass, u.label AS superclass, n.id AS node, u.id AS anc,
         |      ROW_NUMBER() OVER (PARTITION BY n.id
         |        ORDER BY CAST(CONCAT('0x', SUBSTR(md5(n.id || ':' || u.id), 1, 15)) AS BIGINT) ASC,
         |                 u.id ASC) AS rn
         |    FROM nodes n JOIN nodes ns ON n.id = ns.id, uppers u
         |    WHERE u.id <> n.id
         |      AND NOT EXISTS (SELECT 1 FROM closure c WHERE c.node = n.id AND c.anc = u.id))
         |  WHERE rn = 1)
         |SELECT subclass, superclass, labels, node, anc FROM positives
         |UNION ALL
         |SELECT subclass, superclass, labels, node, anc FROM negatives
         |ORDER BY node, anc, labels""".stripMargin,
    "q28_emb_traindata" ->
      s"""${TaxoQueries.edgesCte},
         |$taxoNodesCte,
         |sibs AS (
         |  SELECT src, dst, lag(src) OVER (PARTITION BY dst ORDER BY src) AS sib FROM edges)
         |SELECT nq.label AS query_label, np.label AS positive_label,
         |  s.src AS query_id, s.sib AS positive_id
         |FROM sibs s JOIN nodes nq ON s.src = nq.id JOIN nodes np ON s.sib = np.id
         |WHERE s.sib IS NOT NULL
         |ORDER BY query_id, positive_id""".stripMargin,
    "q29_gen_traindata" ->
      s"""${TaxoQueries.edgesCte},
         |$taxoNodesCte
         |SELECT 'summarize: ' || array_to_string(list_slice(list_sort(list(nc.label)), 1, 3), '; ') AS text,
         |  np.label AS summary, e.dst AS parent_id
         |FROM edges e JOIN nodes nc ON e.src = nc.id JOIN nodes np ON e.dst = np.id
         |GROUP BY e.dst, np.label
         |ORDER BY parent_id""".stripMargin,
    "q31_streaming_mentions" -> oracleSqlQ26,
    "q33_streaming_sessions" -> oracleSqlQ07,
    "q19_taxo_ancestors" -> TaxoQueries.ancestorsSql,
    "q20_taxo_leaves" -> TaxoQueries.leavesSql,
    "q21_taxo_depths" -> TaxoQueries.depthsSql,
    "q22_taxo_tr" -> TaxoQueries.trSql,
    "q23_components" ->
      """SELECT CAST(vec_id AS BIGINT) AS node,
        |  CAST(MIN(vec_id) OVER (PARTITION BY label) AS BIGINT) AS component
        |FROM embeddings ORDER BY node""".stripMargin,
    "q26_mentions" -> oracleSqlQ26
  )

  /** Committed expected-output parquet for queries whose semantics are not
    * SQL-expressible (pipeline / custom-expression / stub-codec paths). The
    * fixture is produced by a verified run at sf0.01 (tools/gen_fixtures.sh)
    * and pins the output against regressions; the *semantic* checks live in
    * the golden-parity suite (q24), ExtractSpec byte-identity (q25) and
    * MediaSpec (q30). */
  private def fixtureOracle(name: String, order: Seq[String]): String =
    s"""SELECT * FROM read_parquet('/root/repo/src/test/resources/fixtures/$name.parquet')
       |ORDER BY ${order.mkString(", ")}""".stripMargin

  /** Taxonomy node table (id, label) — shared by the q27/q28/q29
    * training-data oracles (was triplicated verbatim; a label or
    * id-arithmetic tweak to one copy would silently desynchronize them). */
  private val taxoNodesCte: String =
    """nodes AS (
      |  SELECT CAST(0 AS BIGINT) AS id, 'Root Concept' AS label
      |  UNION ALL SELECT CAST(r_regionkey + 1 AS BIGINT), r_name FROM region
      |  UNION ALL SELECT CAST(n_nationkey + 100 AS BIGINT), n_name FROM nation
      |  UNION ALL SELECT CAST(c_custkey + 1000 AS BIGINT), c_name FROM customer)""".stripMargin

  /** Mention-extraction oracle — shared by the batch q26 and its streaming
    * twin q31 (same rows by construction; the oracleSqlQ07 pattern). */
  private val oracleSqlQ26: String =
    """WITH toks AS (
      |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x<>'') AS tk
      |  FROM documents),
      |grams AS (
      |  SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS mention
      |  FROM toks WHERE len(tk) >= 2),
      |stop AS (SELECT ['a','an','the','and','or','of','for','to','in','on','with','by','at','from','as','is','are','other'] AS sw)
      |SELECT mention, COUNT(*) AS freq FROM grams, stop
      |WHERE NOT list_contains(sw, split_part(mention, ' ', 1))
      |  AND NOT list_contains(sw, split_part(mention, ' ', 2))
      |GROUP BY 1 HAVING COUNT(*) >= 3 ORDER BY 1""".stripMargin

  /** Gap-sessionization oracle — shared by the batch q07 and its stateful
    * streaming twin q33 (same rows by construction). */
  private val oracleSqlQ07: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM marked)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM sess GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** q18 LSH parameters — shared by the Spark query, the DuckDB oracle
    * replica, and graft.RecallBench (whose sweep justifies the choice;
    * see BENCH/BASELINE.md). */
  val AnnBits = 16
  val AnnBands = 8
  val AnnK = 5
  /** q32 IVF parameters (same sharing contract as AnnBits/AnnBands). */
  val IvfNlist = 32
  val IvfNprobe = 4

  /** q32 oracle: the IVF path rebuilt in SQL — deterministic centroid
    * sample, per-vector nearest-cell assignment (cosine rounded 6 dp, ties
    * by centroid id — the same rule NearestCentroidsExpr applies), probe
    * the nProbe nearest cells, exact rerank. */
  private def annIvfOracle: String =
    s"""WITH nc AS (
       |  -- integer division (//): DuckDB's / is float division and CAST
       |  -- rounds, which would disagree with Spark's n / nlist truncation
       |  SELECT GREATEST(1, COUNT(*) // $IvfNlist) AS step FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
       |  FROM embeddings, nc WHERE vec_id % step = 0 ORDER BY vec_id LIMIT $IvfNlist),
       |assign AS (
       |  SELECT e.vec_id AS neighbor_id,
       |    (SELECT cid FROM cents
       |     ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cemb), 6) DESC,
       |              cid ASC LIMIT 1) AS cell
       |  FROM embeddings e),
       |proberank AS (
       |  SELECT q.vec_id AS query_id, c.cid AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cemb), 6) DESC,
       |               c.cid ASC) AS rn
       |  FROM embeddings q, cents c WHERE q.vec_id < 20),
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.neighbor_id
       |  FROM proberank p JOIN assign a ON p.cell = a.cell
       |  WHERE p.rn <= $IvfNprobe AND p.query_id <> a.neighbor_id),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |      CAST(ce.embedding AS DOUBLE[])), 6) AS cos
       |  FROM cand JOIN embeddings qe ON cand.query_id = qe.vec_id
       |            JOIN embeddings ce ON cand.neighbor_id = ce.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos
       |FROM ranked WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin

  /** ±1 hyperplane VALUES literal — the exact sign matrix RhpSigExpr uses
    * (VectorExprs.rhpSign, single source of truth), so the DuckDB oracle
    * reproduces the banding bit-for-bit and q18 gets a hard hash check,
    * not a rows-only one. */
  private def planesValues(bits: Int, dim: Int): String =
    (0 until bits).map { b =>
      val vals = (0 until dim).map(i =>
        if (graft.functions.VectorExprs.rhpSign(b, i) > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
      s"($b, $vals)"
    }.mkString(", ")

  private def annLshOracle: String = {
    val rows = AnnBits / AnnBands
    val mask = (1L << rows) - 1
    s"""WITH planes AS (SELECT * FROM (VALUES ${planesValues(AnnBits, 64)}) t(b, p)),
       |dmean AS (
       |  SELECT i, round(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS m
       |  FROM embeddings, range(1, 65) t(i) GROUP BY i),
       |mu AS (SELECT list(m ORDER BY i) AS mu FROM dmean),
       |centered AS (
       |  SELECT vec_id, list_transform(range(1, 65),
       |    j -> CAST(embedding[j] AS DOUBLE) - mu[j]) AS cemb
       |  FROM embeddings, mu),
       |sigb AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN list_dot_product(cemb, p) >= 0
       |    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
       |  FROM centered, planes GROUP BY vec_id),
       |banded AS (
       |  SELECT vec_id, b AS band, (sig >> (b * $rows)) & $mask AS bucket
       |  FROM sigb, range($AnnBands) t(b)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM banded q JOIN banded c
       |    ON q.band = c.band AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 20),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |      CAST(ce.embedding AS DOUBLE[])), 6) AS cos
       |  FROM cand JOIN embeddings qe ON cand.query_id = qe.vec_id
       |            JOIN embeddings ce ON cand.neighbor_id = ce.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos
       |FROM ranked WHERE rank <= $AnnK ORDER BY query_id, rank""".stripMargin
  }

  /** q15 oracle: the 60-bit SimHash signature rebuilt in SQL — possible
    * because the word hash is md5-derived (TextOps.md5Long), not xxhash64. */
  private def simhashOracle: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text),'\s+'), x -> x<>'')) AS w
      |  FROM documents),
      |h AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h FROM w),
      |v AS (
      |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h, range(60) t(b) GROUP BY 1, 2),
      |sg AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sig
      |  FROM v GROUP BY 1)
      |SELECT d.doc_id AS doc_id, CAST(COALESCE(sg.sig, 0) AS BIGINT) AS sig
      |FROM documents d LEFT JOIN sg ON d.doc_id = sg.doc_id ORDER BY d.doc_id""".stripMargin

  /** Exact word-3-gram Jaccard oracle (shared by the exact and the
    * MinHash-verified variants — 128-band banding recall is 1 on this
    * corpus, verified at sf0.001/0.01/0.1). */
  private def jaccardOracle: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
      |    THEN list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
      |    ELSE [list_aggregate(tk, 'string_agg', ' ')] END) AS sset
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),'\s+'), x -> x<>'') AS tk
      |        FROM documents)),
      |pairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b,
      |    len(list_intersect(x.sset, y.sset)) AS inter,
      |    len(x.sset) + len(y.sset) - len(list_intersect(x.sset, y.sset)) AS uni
      |  FROM sh x JOIN sh y ON x.doc_id < y.doc_id)
      |SELECT a, b, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
      |  round(CAST(inter AS DOUBLE)/uni, 6) AS jaccard
      |FROM pairs WHERE round(CAST(inter AS DOUBLE)/uni, 6) >= 0.12 ORDER BY 1,2""".stripMargin
}
