package perfbench

import graft.models.{Embedder, Generator, IconModels, SubScorer}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One traced interval. `parent` links run -> call -> Spark job -> stage. */
final case class Span(id: String, parent: String, kind: String, name: String,
                      startMs: Long, endMs: Long) {
  def toJson: String = Json(Map("id" -> id, "parent" -> parent, "kind" -> kind,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs))
}

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }
  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, all.map(_.toJson).mkString("[\n", ",\n", "\n]\n"))
}

/** Engine-layer counters, attributed to the call span named by the
  * `perfbench.span` local property of the thread that submitted the job
  * (child threads inherit it, so checkpoint writers and stream executions
  * are attributed to the call that started them). */
final class EngineListener(spans: Spans) extends SparkListener {
  final class Agg {
    var jobs, stages, tasks, shuffleRead, shuffleWrite, spill, runMs, gcMs = 0L
    def +=(a: Agg): Unit = {
      jobs += a.jobs; stages += a.stages; tasks += a.tasks
      shuffleRead += a.shuffleRead; shuffleWrite += a.shuffleWrite
      spill += a.spill; runMs += a.runMs; gcMs += a.gcMs
    }
    def toMetrics: Map[String, Double] = Map(
      "engine.jobs" -> jobs.toDouble, "engine.stages" -> stages.toDouble,
      "engine.tasks" -> tasks.toDouble,
      "engine.shuffle_read_mb" -> shuffleRead / 1048576.0,
      "engine.shuffle_write_mb" -> shuffleWrite / 1048576.0,
      "engine.spill_mb" -> spill / 1048576.0,
      "engine.task_s" -> runMs / 1000.0, "engine.task_gc_s" -> gcMs / 1000.0)
  }
  private val byCall = mutable.HashMap.empty[String, Agg]
  private val jobCall = mutable.HashMap.empty[Int, (String, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val endedMarkers = mutable.HashSet.empty[String]

  private def agg(call: String) = byCall.getOrElseUpdate(call, new Agg)
  private def callOf(stageId: Int): Option[String] =
    stageJob.get(stageId).flatMap(jobCall.get).map(_._1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val call = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .getOrElse("run")
    jobCall(e.jobId) = (call, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for ((call, start) <- jobCall.get(e.jobId)) {
      if (call.startsWith(Trace.MarkerPrefix)) endedMarkers += call
      else {
        agg(call).jobs += 1
        spans.add(Span(s"job-${e.jobId}", call, "job", s"job ${e.jobId}", start, e.time))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (call <- callOf(info.stageId) if !call.startsWith(Trace.MarkerPrefix)) {
      agg(call).stages += 1
      spans.add(Span(s"stage-${info.stageId}.${info.attemptNumber()}",
        s"job-${stageJob(info.stageId)}", "stage", info.name,
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (call <- callOf(e.stageId) if !call.startsWith(Trace.MarkerPrefix)) {
      val a = agg(call)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
      }
    }
  }

  def markerEnded(id: String): Boolean = synchronized(endedMarkers.contains(id))

  /** Counters of the given calls, summed. */
  def metrics(calls: Iterable[String]): Map[String, Double] = synchronized {
    val total = new Agg
    for (c <- calls; a <- byCall.get(c)) total += a
    total.toMetrics
  }
}

/** Tracing session of one traced run: the listener, the spans and the call
  * boundary helper. */
final class Trace(spark: SparkSession) {
  val spans = new Spans
  val listener = new EngineListener(spans)
  val runSpan = "run"
  private val runStart = System.currentTimeMillis()
  private var markers = 0
  spark.sparkContext.addSparkListener(listener)

  /** Runs `f` with jobs it submits tagged as span `id`. */
  private def tagged[A](id: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, id)
    try f finally sc.setLocalProperty(Trace.SpanKey, prev)
  }

  /** Runs `f` as call span `id`. */
  def call[A](id: String, name: String)(f: => A): A = {
    val t0 = System.currentTimeMillis()
    try tagged(id)(f)
    finally spans.add(Span(id, runSpan, "call", name, t0, System.currentTimeMillis()))
  }

  /** Blocks until the listener has seen every event posted so far: the
    * listener bus is FIFO, so once a marker job's end arrives, all earlier
    * jobs, stages and tasks have been counted. */
  def drain(): Unit = {
    markers += 1
    val id = s"${Trace.MarkerPrefix}$markers"
    tagged(id)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!listener.markerEnded(id)) {
      require(System.nanoTime() < deadline, "listener bus did not drain in 60 s")
      Thread.sleep(2)
    }
  }

  def finish(path: java.nio.file.Path): Unit = {
    spans.add(Span(runSpan, "", "run", "run", runStart, System.currentTimeMillis()))
    spark.sparkContext.removeSparkListener(listener)
    spans.write(path)
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val MarkerPrefix = "marker-"
}

/** Model-call counters. They live in this object, not in the wrappers, so
  * the copies that executor threads deserialize under local[n] all add to
  * the same counters. */
object ModelCounters {
  val embedCalls, embedLabels, embedNs = new AtomicLong
  val subCalls, subPairs, subNs = new AtomicLong
  val genCalls, genNs = new AtomicLong
  private val all = Seq(embedCalls, embedLabels, embedNs, subCalls, subPairs, subNs,
    genCalls, genNs)

  def reset(): Unit = all.foreach(_.set(0L))

  def metrics: Map[String, Double] = Map(
    "models.embed_calls" -> embedCalls.get.toDouble,
    "models.embed_labels" -> embedLabels.get.toDouble,
    "models.labels_per_call" ->
      (if (embedCalls.get == 0) 0.0 else embedLabels.get.toDouble / embedCalls.get),
    "models.embed_s" -> embedNs.get / 1e9,
    "models.sub_calls" -> subCalls.get.toDouble,
    "models.sub_pairs" -> subPairs.get.toDouble,
    "models.sub_s" -> subNs.get / 1e9,
    "models.gen_calls" -> genCalls.get.toDouble,
    "models.gen_s" -> genNs.get / 1e9)

  def timed[A](calls: AtomicLong, items: AtomicLong, n: Int, ns: AtomicLong)(f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally {
      ns.addAndGet(System.nanoTime() - t0)
      calls.incrementAndGet()
      if (items != null) items.addAndGet(n)
    }
  }

  /** The same models, each call counted and timed. */
  def wrap(m: IconModels): IconModels =
    IconModels(new CountingEmbedder(m.emb), new CountingGenerator(m.gen),
      new CountingSubScorer(m.sub))
}

final class CountingEmbedder(inner: Embedder) extends Embedder {
  import ModelCounters._
  def dim: Int = inner.dim
  def embed(labels: Seq[String]): Array[Array[Float]] =
    timed(embedCalls, embedLabels, labels.size, embedNs)(inner.embed(labels))
}

final class CountingSubScorer(inner: SubScorer) extends SubScorer {
  import ModelCounters._
  def score(pairs: Seq[(String, String)]): Array[Double] =
    timed(subCalls, subPairs, pairs.size, subNs)(inner.score(pairs))
}

final class CountingGenerator(inner: Generator) extends Generator {
  import ModelCounters._
  def generate(labels: Seq[String]): String =
    timed(genCalls, null, 0, genNs)(inner.generate(labels))
}

/** JVM and host counters over a measured window. */
final class JvmWindow {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  private def cpuStat: (Long, Long) = try {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .asScala.find(_.startsWith("cpu ")).get
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  heapPools.foreach(_.resetPeakUsage())
  private val wall0 = System.nanoTime()
  private val cpu0 = os.getProcessCpuTime
  private val gc0 = gcMs
  private val (steal0, total0) = cpuStat

  def metrics(cores: Int): Map[String, Double] = {
    val wall = (System.nanoTime() - wall0) / 1e9
    val (steal1, total1) = cpuStat
    Map(
      "jvm.cpu_util" -> (os.getProcessCpuTime - cpu0) / 1e9 / (wall * cores),
      "jvm.gc_s" -> (gcMs - gc0) / 1000.0,
      "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "host.steal_frac" ->
        (if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0))
  }
}
