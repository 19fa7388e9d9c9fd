package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.operators.WordCount
import graft.sources.{Sinks, Tables}

/** One benchmark run inside one JVM: set-up repetitions, the timed
  * closed loop, the output dump for the check and, when traced, the per-layer
  * numbers. The program is driven only through its public entry points
  * (`SparkEntry.queries`, `WordCount`, `Tables`, `Sinks`); nothing
  * inside it is instrumented. Spans are taken here, around each call
  * into a layer, and Spark jobs, stages and tasks are attributed to the
  * span whose wall-clock window holds the job's submission time (one
  * client thread, so windows never overlap).
  *
  * Usage: Harness <workload> <corpusDir>,<corpusDir>,... <runDir>
  *                 <seconds> <seed> <trace 0|1> <resultJson>
  * Each corpus dir is a fresh copy of the same inputs; set-up repetition
  * i runs over copy i with an empty artifact cache, and the timed passes
  * reuse the last copy (its artifacts now warm).
  */
object Harness {
  val Cores = 4
  /** Lower bound on timed passes. The tail is read at the highest
    * percentile with ten samples beyond it in the shortest run
    * (MinPasses × items samples), so it is the same percentile whatever
    * number of passes `seconds` allows. */
  val MinPasses = 4
  val ResolveRounds = 3

  /** A unit of work in a pass. `run` sends every result frame through
    * `sink`, tagged with the name its output is checked under. */
  final case class Item(name: String, run: (Ctx, (String, DataFrame) => Unit) => Unit)

  final class Ctx(val spark: SparkSession, val dir: String, val scratch: Path,
      val tracer: Tracer)

  def registered(name: String): Item = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"no registered query $name"))
    Item(name, (c, sink) => sink(name, c.tracer.span("construct")(fn(c.spark, c.dir))))
  }

  /** The reference's whole job with real output: counts written as
    * letter-partitioned sorted text, read back, top-100; the same counts
    * also go through a letter-partitioned parquet write and read. */
  val wordcountSink: Item = Item("wordcount_sink", (c, sink) => {
    val t = c.tracer
    val counts = t.span("construct")(WordCount.counts(c.spark, c.dir))
    val text = Files.createTempDirectory(c.scratch, "sink-text-")
    val parq = Files.createTempDirectory(c.scratch, "sink-parquet-")
    try {
      t.span("sinks.text_write")(Sinks.writeLetterPartitionedCounts(counts, text.toString))
      t.span("sinks.parquet_write")(Sinks.writePartitionedParquet(
        counts.withColumn("letter", substring(col("word"), 1, 1)), parq.toString, "letter"))
      if (t.on) { t.count("sinks.write_bytes", dirBytes(text) + dirBytes(parq))
                  t.count("sinks.files", dirFiles(text) + dirFiles(parq)) }
      val top = Seq(desc("cnt"), asc("word"))
      val fromText = t.span("sinks.read")(
        Sinks.readLetterPartitionedCounts(c.spark, text.toString).orderBy(top: _*).limit(100))
      sink("wordcount_sink_text", fromText)
      val fromParquet = t.span("sinks.read")(c.spark.read.parquet(parq.toString)
        .select("word", "cnt").orderBy(top: _*).limit(100))
      sink("wordcount_sink_parquet", fromParquet)
    } finally { deleteTree(text); deleteTree(parq) }
  })

  /** Outputs that are not registered queries, and the registered query
    * whose oracle SQL they are checked against. */
  val oracleAlias: Map[String, String] = Map(
    "wordcount_sink_text" -> "wordcount_topk",
    "wordcount_sink_parquet" -> "wordcount_topk")

  val workloads: Map[String, Seq[Item]] = Map(
    "reports" -> (Seq("wordcount_topk", "wordcount_full", "q1_pricing_summary",
      "q3_shipping_priority", "q6_forecast_revenue", "top_customers")
      .map(registered) :+ wordcountSink),
    "curation_stream" -> Seq("text_repetition", "text_quality", "text_lang_id",
      "text_token_stats", "dedup_exact", "stream_tumbling").map(registered))

  def main(args: Array[String]): Unit = {
    val Array(workload, corpora, runDirS, secondsS, seedS, traceS, resultPath) = args
    val items = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val dirs = corpora.split(',').toSeq
    val runDir = Paths.get(runDirS)
    val seconds = secondsS.toDouble
    val rng = new scala.util.Random(seedS.toLong)
    val traced = traceS == "1"
    val out = new Result
    def artifactRoot(i: Int) = runDir.resolve(s"artifacts-$i")

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", (8 << 20).toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val events = new EventLog
    if (traced) {
      spark.sparkContext.addSparkListener(events.spark)
      spark.streams.addListener(events.streams)
    }
    val tracer = new Tracer(traced)
    val scratch = Files.createDirectories(runDir.resolve("scratch"))
    val leaks = new ConfLeaks(spark, traced)
    val failures = mutable.LinkedHashMap.empty[String, String]

    def runItem(c: Ctx, item: Item, sink: (String, DataFrame) => Unit): Boolean =
      try { leaks.around(item.name)(item.run(c, sink)); true }
      catch { case e: Throwable =>
        failures.getOrElseUpdate(item.name,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        System.err.println(s"[perfbench] ${item.name} failed: $e")
        false
      }
    def noop(name: String, df: DataFrame): Unit = {
      tracer.span("plan") {
        df.queryExecution.executedPlan
        if (tracer.on) df.queryExecution.tracker.phases.foreach { case (p, s) =>
          tracer.count(s"plan.${p}_s", s.durationMs / 1e3) }
      }
      tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
    }
    // ---- set-up: each repetition is a first pass over a fresh corpus
    // copy with an empty artifact cache (ArtifactCache roots itself
    // under java.io.tmpdir, read at every call). Repetition 1, the
    // JVM-cold one, writes every output to the dump the check reads
    // instead of to the noop sink.
    val dumpDir = runDir.resolve("dump")
    val dumped = mutable.LinkedHashMap.empty[String, String]
    def dump(name: String, df: DataFrame): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(dumpDir.resolve(name).toString)
      dumped(name) = SparkEntry.oracleSql.getOrElse(oracleAlias.getOrElse(name, name),
        sys.error(s"no oracle SQL for $name"))
    }
    var dumpFailures = 0
    val setups = dirs.indices.map { i =>
      System.setProperty("java.io.tmpdir", Files.createDirectories(artifactRoot(i)).toString)
      val c = new Ctx(spark, dirs(i), scratch, tracer)
      val t0 = System.nanoTime()
      items.foreach { it =>
        val q0 = System.nanoTime()
        if (!runItem(c, it, if (i == 0) dump else noop) && i == 0) dumpFailures += 1
        out.setupItems(s"${it.name}#${i + 1}") = (System.nanoTime() - q0) / 1e9
      }
      val s = sessionS + (System.nanoTime() - t0) / 1e9
      out.num(s"setup.rep${i + 1}_s", s)
      s
    }
    val last = dirs.size - 1
    val ctx = new Ctx(spark, dirs(last), scratch, tracer)
    val artifactsAfterSetup = artifactBuilds(artifactRoot(last))
    out.setupFailures = failures.size
    failures.clear()

    // ---- timed closed loop: whole passes (each item once, in a
    // seed-permuted order) until `seconds` have elapsed and at least
    // MinPasses have run, so every run samples the same mix of items
    val samples = mutable.ArrayBuffer.empty[(String, Double)]
    var attempted = 0
    var timedWall = 0.0
    val passRates = mutable.ArrayBuffer.empty[Double]
    var liveHeap = 0.0
    var gcExplicit = 0.0
    val gc0 = gcSeconds()
    tracer.reset()
    val timedStartMs = System.currentTimeMillis()
    while (timedWall < seconds || passRates.size < MinPasses) {
      val t0 = System.nanoTime()
      val done = rng.shuffle(items).count { it =>
        attempted += 1
        val q0 = System.nanoTime()
        val ok = tracer.span("query", it.name)(runItem(ctx, it, noop))
        if (ok) samples += it.name -> (System.nanoTime() - q0) / 1e9
        ok
      }
      val wall = (System.nanoTime() - t0) / 1e9
      timedWall += wall
      passRates += done / wall
      val g0 = gcSeconds()
      System.gc()
      gcExplicit += gcSeconds() - g0
      liveHeap = math.max(liveHeap, oldGenAfterGcMb())
    }
    val timedEndMs = System.currentTimeMillis()
    val timedSpans = tracer.spans.toList
    val timedCounts = tracer.counts.toMap
    val jvmGc = gcSeconds() - gc0 - gcExplicit

    // ---- table resolution probe (traced only, after the timed loop)
    tracer.reset()
    if (traced) (1 to ResolveRounds).foreach { _ =>
      tracer.span("tables.resolve")(Tables.all.foreach(t => Tables.load(spark, ctx.dir, t).schema))
    }
    val resolveSpans = tracer.spans.toList

    // ---- end-to-end metrics
    val lat = samples.map(_._2).sorted.toIndexedSeq
    val n = lat.size
    out.num("setup_s", median(setups))
    out.num("queries_per_s", median(passRates.toSeq))
    out.num("query_p50_s", harrellDavis(lat, 0.5))
    val tailP = 1.0 - 10.0 / (MinPasses * items.size)
    out.num("query_tail_s", harrellDavis(lat, tailP))
    out.num("live_heap_mb", liveHeap)
    out.num("artifact_mb", dirBytes(artifactRoot(last)) / 1e6)
    out.num("setup.first_s", setups.head)
    out.num("setup.session_s", sessionS)
    out.num("timed.wall_s", timedWall)
    out.num("timed.passes", passRates.size)
    out.num("timed.samples", n)
    out.num("timed.tail_percentile", tailP)
    out.num("artifact.builds_setup", artifactsAfterSetup)
    out.num("artifact.builds_timed", artifactBuilds(artifactRoot(last)) - artifactsAfterSetup)
    out.num("artifact.files", dirFiles(artifactRoot(last)))
    out.num("jvm.gc_s", jvmGc)
    out.num("jvm.jit_s", Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0))
    out.num("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6)
    out.attempted = attempted + items.size
    out.failed = (attempted - n) + dumpFailures
    out.failures = failures.toMap
    out.dumped = dumped.toMap
    out.samples = samples.toList

    if (traced) {
      events.await(spark, 30000)
      LayerMetrics.fill(out, timedSpans, timedCounts, events, timedStartMs, timedEndMs,
        resolveSpans)
      out.num("session.conf_leaks", leaks.count)
      out.leakedKeys = leaks.keys
      out.spans = timedSpans ++ resolveSpans
    }
    spark.stop()
    Files.writeString(Paths.get(resultPath), out.json)
  }

  // ---- statistics

  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toIndexedSeq, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: IndexedSeq[Double], p: Double): Double = {
    if (sorted.isEmpty) return 0.0
    val h = (sorted.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
  }

  /** Harrell–Davis estimate of the `p` quantile of sorted values: a
    * Beta((n+1)p, (n+1)(1-p))-weighted mean of every order statistic.
    * With a few dozen samples drawn from several queries of different
    * cost, a single order statistic jumps between queries from run to
    * run; the weighted mean estimates the same percentile far more
    * steadily. */
  def harrellDavis(sorted: IndexedSeq[Double], p: Double): Double = {
    val n = sorted.size
    if (n == 0) return 0.0
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(
      (n + 1) * p, (n + 1) * (1 - p))
    sorted.indices.map { i =>
      (beta.cumulativeProbability((i + 1).toDouble / n) -
        beta.cumulativeProbability(i.toDouble / n)) * sorted(i)
    }.sum
  }

  // ---- JVM

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Old-generation occupancy right after the latest collection. */
  def oldGenAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6

  // ---- files

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator.asScala.toList finally s.close() }
  def dirBytes(p: Path): Long = walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum
  def dirFiles(p: Path): Long = walk(p).count(Files.isRegularFile(_)).toLong
  def deleteTree(p: Path): Unit =
    walk(p).sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_): Unit)

  /** Completed artifacts: `<name>-<hash>/<fingerprint>` directories. */
  def artifactBuilds(root: Path): Long = {
    val cache = root.resolve("graft-artifact-cache")
    if (!Files.isDirectory(cache)) 0L
    else Files.list(cache).iterator.asScala.filter(Files.isDirectory(_))
      .map(k => Files.list(k).iterator.asScala.count(Files.isDirectory(_)).toLong).sum
  }
}

/** One call into a layer: wall-clock window (for attributing Spark
  * jobs) and monotonic duration. `parent` is -1 at the top. */
final case class Span(id: Int, parent: Int, name: String, label: String,
    startMs: Long, endMs: Long, seconds: Double)

/** Wall-clock spans around calls into layers, kept in memory. */
final class Tracer(var on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var stack: List[Int] = Nil
  private var nextId = 0

  def reset(): Unit = { spans.clear(); counts.clear() }
  def count(key: String, v: Double): Unit = if (on) counts(key) += v

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, label, ms, System.currentTimeMillis(),
          (System.nanoTime() - t0) / 1e9)
      }
    }
}

/** Session-purity counter: conf keys a query leaves changed. */
final class ConfLeaks(spark: SparkSession, on: Boolean) {
  val allowed = Set("spark.sql.legacy.parquet.nanosAsLong")
  val keys = mutable.LinkedHashSet.empty[String]
  var count = 0
  def around[T](item: String)(body: => T): T =
    if (!on) body
    else {
      val before = spark.conf.getAll
      try body
      finally {
        val after = spark.conf.getAll
        val changed = (before.keySet ++ after.keySet)
          .filter(k => before.get(k) != after.get(k) && !allowed(k))
        count += changed.size
        keys ++= changed.map(k => s"$item:$k")
      }
    }
}

/** Raw listener events, read after the bus has delivered the marker. */
final class EventLog {
  final case class Job(id: Int, timeMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, submittedMs: Long, completedMs: Long, failed: Boolean)
  final case class Task(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, deserMs: Long, resultSerMs: Long, gettingResultMs: Long,
      inBytes: Long, inRows: Long, shufWrite: Long, shufRead: Long,
      spill: Long, failed: Boolean)
  final case class Progress(startMs: Long, durations: Map[String, Long],
      stateRows: Long, stateBytes: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val streamStarts = mutable.ArrayBuffer.empty[Long]
  val progress = mutable.ArrayBuffer.empty[Progress]
  @volatile var markerDone = false
  @volatile var streamsLive = 0

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = EventLog.this.synchronized {
      if (Option(e.properties).exists(_.getProperty("perfbench.marker") != null)) ()
      else jobs += Job(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = EventLog.this.synchronized {
      if (!jobs.exists(_.id == e.jobId)) markerDone = true
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      EventLog.this.synchronized {
        val s = e.stageInfo
        stages += Stage(s.stageId, s.submissionTime.getOrElse(0L),
          s.completionTime.getOrElse(0L), s.failureReason.isDefined)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = EventLog.this.synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks += Task(e.stageId, i.duration, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
        m.resultSerializationTime, i.gettingResultTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled, i.failed)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      EventLog.this.synchronized { streamsLive += 1; streamStarts += isoMs(e.timestamp) }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      EventLog.this.synchronized {
        val p = e.progress
        progress += Progress(isoMs(p.timestamp),
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      EventLog.this.synchronized { streamsLive -= 1 }
  }

  private def isoMs(s: String): Long = java.time.Instant.parse(s).toEpochMilli

  /** Run a marker job and wait for its end event: the listener bus
    * delivers in order, so every earlier job, stage and task event has
    * arrived by then. Streaming events travel separately; wait until
    * every started stream has terminated. */
  def await(spark: SparkSession, timeoutMs: Long): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.marker", "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("perfbench.marker", null)
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((!markerDone || streamsLive > 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}
