package perfbench

import graft.SparkEntry
import graft.pipeline.KgPipeline
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Benchmark program: one workload in one `local[n]` JVM, n = the host's
  * processor count. Prints one result line, prefixed `PERFBENCH `, that
  * `run.py` turns into the benchmark's JSON result.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir>
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path)

  /** One checked unit of work: a pipeline run or one query. */
  final case class Attempt(key: String, wallS: Double, rows: Long, signature: String,
                           error: String) {
    def toMap: Map[String, Any] = Map("key" -> key, "wall_s" -> wallS, "rows" -> rows,
      "signature" -> Option(signature), "error" -> Option(error))
  }

  def main(args: Array[String]): Unit = {
    // numbers are printed through the default locale: pin it
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = parse(args)
    val workload = Workloads.byName.getOrElse(opts.workload,
      sys.error(s"unknown workload '${opts.workload}' (expected ${Workloads.byName.keys.mkString(", ")})"))
    Fs.deleteTree(opts.work)
    Files.createDirectories(opts.work)
    val cores = Runtime.getRuntime.availableProcessors()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      // the status store keeps every job, stage and SQL execution even with
      // the UI off; bounded, the heap no longer grows with the
      // number of measured units
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
    workload.conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // session, codegen and parquet-codec start-up belong to set-up, not to
    // the first measured unit
    spark.range(1).count()
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val out = try workload.run(new Workloads.Ctx(spark, opts, cores))
      finally spark.stop()
    val result = out ++ Map("session_s" -> sessionS,
      "setup_s" -> (sessionS + out("stage_s").asInstanceOf[Double] +
        out("warmup_s").asInstanceOf[Double]),
      "cores" -> cores)
    println("PERFBENCH " + Json(result))
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") match { case "1" => true; case "0" => false; case t => sys.error(s"bad --trace $t") },
      Paths.get(get("work")).toAbsolutePath)
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val ls = Files.list(p)
        try ls.forEach(deleteTree(_)) finally ls.close()
      }
      Files.delete(p)
    }

  /** (bytes, files) under `p`. */
  def size(p: Path): (Long, Long) = {
    var bytes, files = 0L
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
      finally w.close()
    }
    (bytes, files)
  }
}

/** Order-independent digest of every column of a result: a full
  * materialization (a `.count()` would let the optimizer prune columns).
  * Floating values are rounded to 9 decimals, as the oracle comparison
  * does, so summation order cannot flip a digest. */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 9)
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case s: StructType =>
      struct(s.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  /** (row count, signature). */
  def apply(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = xxhash64(cols: _*)
    val r = named.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    val n = r.getLong(0)
    (n, f"$n:${r.getLong(1)}%x:${r.getLong(2)}%x")
  }
}

object Workloads {
  import Main.Attempt

  final class Ctx(val spark: SparkSession, val opts: Main.Opts, val cores: Int) {
    /** Drops the temp views a unit of work left behind (the memory sinks
      * of the streaming queries), so no state carries into the next unit. */
    def withCleanCatalog[A](f: => A): A = {
      def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
      val before = views
      try f finally (views -- before).foreach(spark.catalog.dropTempView)
    }
  }

  trait Workload {
    def conf: Seq[(String, String)]
    /** Everything the workload measured, as the result line's fields. */
    def run(ctx: Ctx): Map[String, Any]
  }

  val byName: Map[String, Workload] = Map(
    "concept-link" -> ConceptLink, "operator-suite" -> OperatorSuite)

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def seconds(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Heap in use after full GCs. Spark's context cleaner drops broadcast
    * and cached blocks asynchronously once a GC has collected their
    * references, so collect until the reading settles. */
  private def driverHeapMb(): Double = {
    val r = Runtime.getRuntime
    def used() = { System.gc(); Thread.sleep(200); (r.totalMemory() - r.freeMemory()) / 1048576.0 }
    var prev = used()
    var cur = used()
    var n = 0
    while (math.abs(cur - prev) > 0.5 && n < 8) { prev = cur; cur = used(); n += 1 }
    cur
  }

  /** Stages the inputs `reps` times into fresh directories and returns the
    * last directory with the median staging time. */
  private def stage(ctx: Ctx, reps: Int)(write: Path => Unit): (Path, Double) = {
    var last: Path = null
    val times = (1 to reps).map { i =>
      if (last != null) Fs.deleteTree(last)
      last = ctx.opts.work.resolve(s"input-$i")
      val t0 = System.nanoTime()
      write(last)
      seconds(t0)
    }
    (last, median(times))
  }

  private val StageReps = 3

  /** Full `KgPipeline.run` (one round, 12k-candidate cap, minimum mention
    * frequency 1) over 300 stored HTML pages of 100 words drawn uniformly
    * from a 50k-word vocabulary, repeated for the measured window. Nearly
    * every bigram is distinct, so the cap fills and about 11.7k concepts are
    * minted: past the 10⁴ mints at which canonicalization takes its Spark
    * LSH + connected-components path. The seed salts the word hash. */
  object ConceptLink extends Workload {
    val Pages = 300
    val WarmupRuns = 4
    val cfg = KgPipeline.PipelineConfig(rounds = 1, maxCandidatesPerRound = 12000,
      minMentionFreq = 1)
    // session settings of the pipeline CLI (graft.pipeline.RunPipeline)
    val conf = Seq(
      "spark.sql.constraintPropagation.enabled" -> "false",
      "spark.sql.execution.topKSortFallbackThreshold" -> "100000")

    private def writeCorpus(spark: SparkSession, seed: Long, dir: Path): Unit =
      spark.range(0, Pages, 1, 16).select(
        concat(lit("https://x.test/"), col("id")).as("url"),
        concat(lit("<html><body><p>"),
          concat_ws(" ", transform(sequence(lit(1), lit(100)),
            i => concat(lit("w"), pmod(xxhash64(col("id"), i, lit(seed)), lit(50000))))),
          lit("</p></body></html>")).as("html"))
        .write.parquet(dir.toString)

    def run(ctx: Ctx): Map[String, Any] = {
      val spark = ctx.spark
      val (input, stageS) = stage(ctx, StageReps)(d => writeCorpus(spark, ctx.opts.seed, d))
      val corpus = spark.read.parquet(input.toString)
      val plain = KgPipeline.domainModels()
      var n = 0

      /** One pipeline run; checkpoint state is deleted afterwards. */
      def once(models: graft.models.IconModels,
               layers: Option[mutable.Map[String, Double]] = None): Attempt =
        ctx.withCleanCatalog {
          n += 1
          val ckpt = ctx.opts.work.resolve(s"ckpt-$n")
          val t0 = System.nanoTime()
          try {
            val res = KgPipeline.run(spark, corpus, "html", models, cfg, ckpt.toString,
              htmlInput = true)
            val wall = seconds(t0)
            val (rows, sig) = Digest(res.triples)
            layers.foreach(_ ++= PipelineLayers(res.lineage, ckpt))
            Attempt("pipeline", wall, rows, sig, null)
          } catch {
            case scala.util.control.NonFatal(e) =>
              Attempt("pipeline", seconds(t0), 0L, null, e.toString)
          } finally Fs.deleteTree(ckpt)
        }

      // untimed runs until the JIT settles: on a 4-core VM the first run
      // takes about 2x, and runs 2-4 are still 10-30% slower than later ones
      val w0 = System.nanoTime()
      (1 to WarmupRuns).foreach(_ => once(plain))
      val warmupS = seconds(w0)

      val attempts = mutable.ArrayBuffer.empty[Attempt]
      val perIter = mutable.ArrayBuffer.empty[Map[String, Double]]
      var layerExtra = Map.empty[String, Double]
      val deadline = System.nanoTime() + (ctx.opts.seconds * 1e9).toLong
      if (!ctx.opts.trace) {
        while (attempts.isEmpty || System.nanoTime() < deadline) attempts += once(plain)
      } else {
        val trace = new Trace(spark)
        val jvm = new JvmWindow
        val counted = ModelCounters.wrap(plain)
        while (attempts.isEmpty || System.nanoTime() < deadline) {
          val id = s"pipeline-${attempts.size + 1}"
          ModelCounters.reset()
          val layers = mutable.Map.empty[String, Double]
          val a = trace.call(id, "KgPipeline.run")(once(counted, Some(layers)))
          trace.drain()
          attempts += a
          val engine = trace.listener.metrics(Seq(id))
          perIter += layers.toMap ++ ModelCounters.metrics ++ engine +
            ("engine.busy_frac" -> engine("engine.task_s") / (a.wallS * ctx.cores))
        }
        val jvmMetrics = jvm.metrics(ctx.cores)
        val ext = (1 to 3).map(i => trace.call(s"extract-$i", "extract") {
          val t0 = System.nanoTime()
          val m = KgPipeline.extractMentionsFromHtml(corpus, "html", cfg.minMentionFreq)
            .agg(count(lit(1))).head().getLong(0)
          (seconds(t0), m)
        })
        layerExtra = jvmMetrics ++ Map(
          "extract.s" -> median(ext.map(_._1)), "extract.pages" -> Pages.toDouble,
          "extract.mentions" -> ext.head._2.toDouble)
        trace.finish(ctx.opts.work.resolve("spans.json"))
      }
      val ok = attempts.filter(_.error == null)
      val runS = median(attempts.map(_.wallS))
      val layers =
        if (!ctx.opts.trace) Map.empty[String, Double]
        else perIter.flatMap(_.keys).distinct
          .map(k => k -> median(perIter.map(_.getOrElse(k, 0.0)))).toMap ++ layerExtra
      Map("stage_s" -> stageS, "warmup_s" -> warmupS, "run_s" -> runS,
        "records" -> Pages.toLong,
        "outputs" -> (if (ok.isEmpty) 0L else ok.head.rows),
        "attempts" -> attempts.map(_.toMap), "driver_heap_mb" -> driverHeapMb(),
        "layers" -> layers)
    }
  }

  /** Pipeline-layer numbers read off the run's lineage table and its
    * checkpoint directory. */
  object PipelineLayers {
    def apply(lineage: DataFrame, ckpt: Path): Map[String, Double] = {
      val rows = lineage.select("stage", "rowsIn", "rowsOut", "scoredPairs", "wallMs")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      def sum(stage: String => Boolean, f: ((String, Long, Long, Long, Long)) => Long) =
        rows.filter(r => stage(r._1)).map(f).sum.toDouble
      val (bytes, files) = Fs.size(ckpt)
      Map(
        "pipeline.candidates" -> sum(_ == "decide", _._2),
        "pipeline.decisions" -> sum(_ == "decide", _._3),
        "pipeline.scored_pairs" -> sum(_ == "decide", _._4),
        "pipeline.decide_task_s" -> sum(_ == "decide", _._5) / 1000.0,
        "pipeline.index_embedded" -> sum(_ == "index_build", _._3),
        "pipeline.canon_pairs" -> sum(_ == "canon_pairs", _._3),
        "pipeline.canon_merged" -> sum(_ == "canon_cc", _._3),
        "pipeline.canon_s" -> sum(_.startsWith("canon_"), _._5) / 1000.0,
        "pipeline.ckpt_mb" -> bytes / 1048576.0,
        "pipeline.ckpt_files" -> files.toDouble)
    }
  }

  /** All `SparkEntry.queries` once, in name order, over seeded tables;
    * every result fully materialized through `Digest`. */
  object OperatorSuite extends Workload {
    // session settings of the query harness (graft.Bench)
    val conf = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "4m",
      "spark.sql.files.openCostInBytes" -> "512k")

    val families: Seq[(String, Seq[Int])] = Seq(
      "ops.relational_s" -> (1 to 5), "ops.events_s" -> (6 to 7),
      "ops.text_s" -> (8 to 15), "ops.sim_s" -> Seq(16, 17, 18, 32),
      "spark.graph_s" -> (19 to 23), "pipeline.q24_s" -> Seq(24),
      "extract.q25_q26_s" -> Seq(25, 26), "ops.traindata_s" -> (27 to 29),
      "ops.media_s" -> Seq(30), "streaming_s" -> Seq(31, 33))

    def run(ctx: Ctx): Map[String, Any] = {
      val spark = ctx.spark
      var rowsIn = Map.empty[String, Long]
      val (dir, stageS) = stage(ctx, StageReps) { d =>
        rowsIn = TableGen.write(spark, ctx.opts.seed, d)
      }
      val queries = SparkEntry.queries
      // a fixed order, as graft.Bench runs them: the seed varies the tables
      val order = queries.keys.toSeq.sorted
      val trace = if (ctx.opts.trace) Some(new Trace(spark)) else None
      val jvm = trace.map(_ => new JvmWindow)
      val attempts = order.map { name =>
        ctx.withCleanCatalog {
          val t0 = System.nanoTime()
          def body(): Attempt = try {
            val (rows, sig) = Digest(queries(name)(spark, dir.toString))
            Attempt(name, seconds(t0), rows, sig, null)
          } catch {
            // a throwing query is a failure, never a fast success
            case scala.util.control.NonFatal(e) => Attempt(name, seconds(t0), 0L, null, e.toString)
          }
          trace.fold(body())(_.call(s"query-$name", name)(body()))
        }
      }
      val runS = attempts.map(_.wallS).sum
      val layers = trace.fold(Map.empty[String, Double]) { t =>
        t.drain()
        val engine = t.listener.metrics(order.map(n => s"query-$n"))
        val byName = attempts.map(a => a.key -> a.wallS).toMap
        val perQuery = attempts.map(a => s"query.${a.key}_s" -> a.wallS).toMap
        val fams = families.map { case (k, nums) =>
          k -> byName.collect { case (q, s) if nums.contains(q.drop(1).take(2).toInt) => s }.sum
        }.toMap
        t.finish(ctx.opts.work.resolve("spans.json"))
        engine ++ perQuery ++ fams ++ jvm.get.metrics(ctx.cores) +
          ("engine.busy_frac" -> engine("engine.task_s") / (runS * ctx.cores))
      }
      Map("stage_s" -> stageS, "warmup_s" -> 0.0, "run_s" -> runS,
        "records" -> rowsIn.values.sum, "outputs" -> attempts.map(_.rows).sum,
        "attempts" -> attempts.map(_.toMap), "driver_heap_mb" -> driverHeapMb(),
        "layers" -> layers)
    }
  }
}
