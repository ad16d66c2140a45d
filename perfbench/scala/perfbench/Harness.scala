package perfbench

import java.lang.management.ManagementFactory
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Arguments passed by run.py. */
final case class Args(
    workload: String, data: String, work: String, out: String,
    seconds: Double, trace: Boolean, cores: Int, clients: Int, minOps: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    Args(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("clients").toInt, m("min-ops").toInt)
  }
}

/** JSON-friendly result tree: java maps and lists, written with Jackson. */
object Json {
  private val mapper = new ObjectMapper()
  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any](); kv.foreach { case (k, v) => m.put(k, v) }; m
  }
  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
  def read(path: String): java.util.Map[String, Object] =
    mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Object]])
}

/** One timed operation of a workload (an API request, a Pipeline.run, a
  * micro-batch). */
final case class Op(cls: String, kind: String, id: Long, startNs: Long, ms: Double, ok: Boolean)

/** Process-wide counters read at the edges of the timed region: CPU time,
  * GC time, Janino compiles. Cheap enough for untraced runs. */
object Meters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  /** Time the JVM's JIT compilers spent compiling, over all threads. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long = CodeGenerator.compileTime

  /** Old-generation usage after a full collection, in MB. Collected
    * twice: the first collection lets Spark's ContextCleaner drop the
    * blocks of unreachable shuffles and broadcasts. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    old.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}

final case class Snapshot(cpuNs: Long, gcMs: Long, jitMs: Long, compiles: Long, compileNs: Long)
object Snapshot {
  def now(): Snapshot = Snapshot(Meters.cpuNs, Meters.gcMs, Meters.jitMs, Meters.compiles, Meters.compileNs)
}

/** Spans kept in memory, one per call into a layer; written out at the end.
  * Disabled (a plain call) in untraced runs. */
final class Tracer(val enabled: Boolean) {
  private val seq = new AtomicLong(0)
  private val spans = java.util.Collections.synchronizedList(new JList[JMap[String, Any]]())
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val origin = System.nanoTime()

  def span[T](name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = seq.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Json.obj("id" -> id, "parent" -> parent, "req" -> req, "name" -> name,
          "start_us" -> (t0 - origin) / 1000, "end_us" -> (t1 - origin) / 1000))
      }
    }

  def all: java.util.List[JMap[String, Any]] = spans
}

/** Listener-side counters: per-job module attribution from call sites,
  * task metrics, query planning phases (traced runs), and every streaming
  * progress (all runs: the stream batch latencies are end-to-end). */
final class Listeners(spark: SparkSession, traceJobs: Boolean) {
  import Listeners._

  val progress = java.util.Collections.synchronizedList(new JList[JMap[String, Any]]())

  // ---- job / task attribution (traced runs only)
  private val jobModule = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stagingJobStart = new ConcurrentHashMap[Int, Long]()
  val counters = new ConcurrentHashMap[String, LongAdder]()
  def add(k: String, v: Long): Unit = counters.computeIfAbsent(k, _ => new LongAdder).add(v)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerProp)))
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val m = moduleOf(site, layer.getOrElse("bench"))
      jobModule.put(e.jobId, m)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      add("jobs", 1); add(s"module.$m.jobs", 1)
      // jobs that fill a staged-input memo (first call of a stream runner)
      if (site.contains(StagingFrame)) stagingJobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(stagingJobStart.remove(e.jobId)).foreach(t0 => add("staging_ms", e.time - t0))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobModule.get(j))).getOrElse("bench")
      val tm = e.taskMetrics
      add("tasks", 1)
      val submit = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
      add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - submit))
      if (tm != null) {
        add("task_ms", tm.executorRunTime)
        add(s"module.$m.task_ms", tm.executorRunTime)
        add("rows_read", tm.inputMetrics.recordsRead)
        add("bytes_read", tm.inputMetrics.bytesRead)
        add("rows_written", tm.outputMetrics.recordsWritten)
        add("bytes_written", tm.outputMetrics.bytesWritten)
        add("shuffle_write_bytes", tm.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", tm.memoryBytesSpilled + tm.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      add("planning_us", Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => p.durationMs * 1000L).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> (v: Long) }
      val st = p.stateOperators
      progress.add(Json.obj(
        "query" -> Option(p.name).getOrElse(""),
        "batch" -> p.batchId,
        "rows" -> p.numInputRows,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
        "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> st.map(_.memoryUsedBytes).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.streams.addListener(streamListener)
  if (traceJobs) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Block until the listener bus delivered every event posted so far. */
  def drain(): Unit =
    org.apache.spark.PerfbenchListenerBus.waitUntilEmpty(spark.sparkContext, 30000)

  def snapshot(): Map[String, Long] = counters.asScala.map { case (k, v) => k -> v.sum }.toMap
}

object Listeners {
  val LayerProp = "perfbench.layer"
  val StagingFrame = "graft.sources.Staging$"

  /** The repository's modules, as package names under `graft`. */
  val Modules: Seq[String] =
    Seq("sources", "clean", "transform", "query", "etl", "operators", "functions", "streaming")

  private val Frame = """^\s*(?:at\s+)?graft\.([a-z]+)\.""".r.unanchored

  /** Module of a job: the innermost `graft.<module>` frame of its call
    * site, else the layer the benchmark was calling into, else `bench`. */
  def moduleOf(callSite: String, fallback: String): String =
    callSite.linesIterator.collectFirst {
      case line if Frame.findFirstMatchIn(line).exists(m => Modules.contains(m.group(1))) =>
        Frame.findFirstMatchIn(line).get.group(1)
    }.getOrElse(if (Modules.contains(fallback)) fallback else "bench")
}

/** Shared session + measurement plumbing for the three workloads. */
final class Harness(val args: Args) {
  val tracer = new Tracer(args.trace)
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  val spark: SparkSession = {
    val local = new java.io.File(args.work, "spark-local"); local.mkdirs()
    SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(args.work, "spark-warehouse").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")
  val sessionMs: Double = (System.currentTimeMillis() - jvmStartMs).toDouble
  val listeners = new Listeners(spark, args.trace)

  val ops = java.util.Collections.synchronizedList(new JList[Op]())
  val failures = java.util.Collections.synchronizedList(new JList[String]())
  val heapMb = java.util.Collections.synchronizedList(new JList[java.lang.Double]())

  /** Tag the calling thread's jobs with the layer it calls into. */
  def inLayer[T](layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Listeners.LayerProp)
    sc.setLocalProperty(Listeners.LayerProp, layer)
    try body finally sc.setLocalProperty(Listeners.LayerProp, prev)
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, ms(t0))
  }

  /** CPU spent inside timed calls, for workloads whose timed region has
    * untimed gaps (checks, heap checkpoints) between calls. */
  private val timedCpuNs = new LongAdder
  def cpuTimed[T](body: => T): T = {
    val c0 = Meters.cpuNs
    try body finally timedCpuNs.add(Meters.cpuNs - c0)
  }

  private var countersAtStart = Map.empty[String, Long]
  private var countersAtStop = Map.empty[String, Long]

  /** End of warm-up: forget its ops and CPU; listener counters are
    * reported as deltas over the timed region. */
  def startTimed(): Unit = {
    listeners.drain(); countersAtStart = listeners.snapshot()
    ops.clear(); timedCpuNs.reset()
  }

  /** End of the timed region; later work (probes, checks) is reported apart. */
  def stopTimed(): Unit = { listeners.drain(); countersAtStop = listeners.snapshot() }

  /** Live heap at a phase boundary, once queued listener events (which
    * hold task metrics) are delivered. */
  def checkpointHeap(): Unit = { listeners.drain(); heapMb.add(Meters.liveHeapMb()) }

  def fail(what: String, e: Throwable): Unit = {
    failures.add(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    System.err.println(s"[perfbench] $what failed: $e")
  }

  /** Write the run's raw record; run.py derives every metric from it. */
  def finish(setup: JMap[String, Any], timedWallS: Double, before: Snapshot, after: Snapshot,
      workUnits: Double, replies: Any, extra: JMap[String, Any]): Unit = {
    listeners.drain()
    val opList = new JList[JMap[String, Any]]()
    ops.asScala.toSeq.sortBy(_.startNs).foreach(o => opList.add(Json.obj(
      "cls" -> o.cls, "kind" -> o.kind, "id" -> o.id, "ms" -> o.ms, "ok" -> o.ok)))
    def delta(to: Map[String, Long], from: Map[String, Long]): JMap[String, Any] = {
      val m = new JMap[String, Any]()
      to.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v - from.getOrElse(k, 0L)) }
      m
    }
    val counters = delta(countersAtStop, countersAtStart)
    val probeCounters = delta(listeners.snapshot(), countersAtStop)
    Json.write(args.out, Json.obj(
      "workload" -> args.workload,
      "trace" -> args.trace,
      "setup" -> setup,
      "timed_wall_s" -> timedWallS,
      "cpu_ms" -> (if (timedCpuNs.sum > 0) timedCpuNs.sum else after.cpuNs - before.cpuNs) / 1e6,
      "gc_ms" -> (after.gcMs - before.gcMs),
      "jit_ms" -> (after.jitMs - before.jitMs),
      "compiles" -> (after.compiles - before.compiles),
      "compile_ms" -> (after.compileNs - before.compileNs) / 1e6,
      "work_units" -> workUnits,
      "heap_mb" -> heapMb,
      "ops" -> opList,
      "failures" -> failures,
      "replies" -> replies,
      "progress" -> listeners.progress,
      "counters" -> counters,
      "setup_counters" -> delta(countersAtStart, Map.empty),
      "probe_counters" -> probeCounters,
      "spans" -> (if (args.trace) tracer.all else new JList[Any]()),
      "extra" -> extra))
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--modules-of")) {
      // call-site attribution check: one call site per line on stdin
      scala.io.Source.stdin.getLines().foreach(l =>
        println(Listeners.moduleOf(l.replace("\\n", "\n"), "bench")))
      return
    }
    val args = Args.parse(argv)
    val h = new Harness(args)
    try args.workload match {
      case "api_read" => new ApiRead(h).run()
      case "etl_write" => new EtlWrite(h).run()
      case "stream_ingest" => new StreamIngest(h).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally h.spark.stop()
  }
}
