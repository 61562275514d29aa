package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{ExtraQueries, GraftSession, SparkEntry, Tables}

/** JVM side of the benchmark: one closed-loop client over a list of
  * registry jobs, in one fresh JVM.
  *
  * A job is `SparkEntry.queries(name)(spark, dir)` executed through the
  * noop sink, as in `graft.Bench`. Three calls are timed from outside the
  * program: the registry builder call, forcing
  * `queryExecution.executedPlan`, and the noop write. Between jobs, outside
  * the timed window, the session is cleaned as `graft.Bench` does (cache,
  * persisted RDDs, state stores, the program's scratch dir); a full GC
  * runs before each pass.
  *
  * Run shape: one session set-up, timed from JVM start; the cold pass, in
  * list order; the check pass, which writes every job's result
  * as parquet for the oracle check (it is in no timed window and lets JIT
  * and caches settle); then warm passes in seed-permuted order until
  * `seconds` have elapsed (at least `minWarm`). With `trace=1` the warm
  * passes alternate listener-on and listener-off, so the same run yields
  * the per-layer numbers and the tracing overhead.
  *
  * Usage (arguments are key=value):
  *   perfbench.Harness data=DIR out=FILE check=DIR jobs=a,b,c seed=N
  *     seconds=S trace=0|1 cpus=N localDir=DIR [minWarm=2]
  * The result is one JSON object written to `out`; run.py turns it into
  * metrics.
  */
object Harness {

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def nowMs: Double = System.nanoTime() / 1e6 - t0Ms
  private var t0Ms: Double = 0.0

  // ---- tiny JSON writer (the result is flat records of numbers/strings)
  private def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case o => js(o.toString)
  }

  // ---- heap in use right after each GC (notification-driven)
  private val heapAfterGcPeak = new AtomicLong(0L)
  private def watchGc(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, h: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              heapAfterGcPeak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
            }
        }, null, null)
      case _ =>
    }
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  // ---- listeners (traced passes only)

  /** Per-stage sums of task metrics, per-Spark-job intervals and the
    * benchmark job each Spark job ran for (the `perfbench.job` property).
    */
  final class Recorder extends SparkListener {
    val jobs = ArrayBuffer[Map[String, Any]]()
    val stages = scala.collection.mutable.LinkedHashMap[(Int, Int), Array[Double]]()
    val stageJob = scala.collection.mutable.HashMap[Int, Int]()
    private val jobStart = scala.collection.mutable.HashMap[Int, (Long, String)]()
    @volatile var started = 0
    @volatile var ended = 0
    // stage array slots
    // 0 tasks, 1 run_ms, 2 cpu_ns, 3 gc_ms, 4 input_b, 5 shw_b, 6 shr_b,
    // 7 spill_b, 8 out_b, 9 peak_exec_mem_b (max), 10 submit_ms, 11 done_ms
    private def slot(id: Int, att: Int) = stages.getOrElseUpdate((id, att), Array.fill(12)(0.0))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.job"))).getOrElse("")
      jobStart(e.jobId) = (e.time, tag)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      started += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (st, tag) =>
        jobs += Map("id" -> e.jobId, "tag" -> tag, "start_ms" -> st, "end_ms" -> e.time)
      }
      ended += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val a = slot(i.stageId, i.attemptNumber())
      a(10) = i.submissionTime.getOrElse(0L).toDouble
      a(11) = i.completionTime.getOrElse(0L).toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = slot(e.stageId, e.stageAttemptId)
        a(0) += 1
        a(1) += m.executorRunTime
        a(2) += m.executorCpuTime
        a(3) += m.jvmGCTime
        a(4) += m.inputMetrics.bytesRead
        a(5) += m.shuffleWriteMetrics.bytesWritten
        a(6) += m.shuffleReadMetrics.totalBytesRead
        a(7) += m.diskBytesSpilled
        a(8) += m.outputMetrics.bytesWritten
        a(9) = math.max(a(9), m.peakExecutionMemory.toDouble)
      }
    }
    def stageRecords: Seq[Map[String, Any]] = synchronized {
      stages.toSeq.map { case ((id, att), a) =>
        Map("id" -> id, "attempt" -> att, "job" -> stageJob.getOrElse(id, -1),
          "tasks" -> a(0), "run_ms" -> a(1), "cpu_ns" -> a(2), "gc_ms" -> a(3),
          "input_b" -> a(4), "shuffle_write_b" -> a(5), "shuffle_read_b" -> a(6),
          "spill_b" -> a(7), "output_b" -> a(8), "peak_exec_mem_b" -> a(9),
          "submit_ms" -> a(10), "done_ms" -> a(11))
      }
    }
  }

  /** Micro-batch progress: the `durationMs` breakdown and state sizes. */
  final class StreamRecorder extends StreamingQueryListener {
    val batches = ArrayBuffer[Map[String, Any]]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      batches += Map(
        "run_id" -> p.runId.toString, "batch" -> p.batchId,
        "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_b" -> p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  // ---- hygiene between jobs (outside every timed window), as graft.Bench
  // does it; the GC that lets ContextCleaner reap shuffle files and
  // broadcasts runs once per pass instead of once per job
  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    try { // StateStore.unloadAll is private[sql], hence reflection
      val cls = Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
    } catch { case NonFatal(_) => }
    rmrf(new java.io.File(ExtraQueries.scratchRoot))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartEpochMs = ManagementFactory.getRuntimeMXBean.getStartTime
    t0Ms = System.nanoTime() / 1e6 - (System.currentTimeMillis() - jvmStartEpochMs)
    watchGc()
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val data = a("data")
    val jobs = a("jobs").split(",").toSeq.filter(_.nonEmpty)
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cpus = a("cpus").toInt
    val minWarm = a.getOrElse("minWarm", "2").toInt
    val checkDir = a("check")

    // ---- set-up, counted from JVM start: session up, every table scanned once
    val spark = GraftSession.builder("perfbench", cpus)
      .config("spark.local.dir", a("localDir")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.names.foreach(t => exec(Tables.load(spark, data, t)))
    val setupS = nowMs / 1e3
    val sc = spark.sparkContext
    val registry = SparkEntry.queries
    val missing = jobs.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown registry jobs: ${missing.mkString(",")}")

    val recorder = new Recorder
    val streamRecorder = new StreamRecorder
    val records = ArrayBuffer[Map[String, Any]]()
    val passes = ArrayBuffer[Map[String, Any]]()
    val checked = ArrayBuffer[Map[String, Any]]()
    def describe(x: Throwable) = (x.getClass.getSimpleName + ": " + x.getMessage).take(500)

    def runPass(pass: Int, kind: String, traced: Boolean): Unit = {
      if (traced) { sc.addSparkListener(recorder); spark.streams.addListener(streamRecorder) }
      // the cold pass runs in list order, so cold_pass_s compares the same
      // sequence of first-time costs in every run; the seed permutes the rest
      val order = if (kind == "cold") jobs
        else new scala.util.Random(seed * 1000003L + pass).shuffle(jobs)
      val check = kind == "check"
      System.gc()
      val cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      var wall = 0.0
      val pStart = nowMs
      order.zipWithIndex.foreach { case (name, idx) =>
        hygiene(spark)
        val tag = s"$pass/$idx/$name"
        sc.setLocalProperty("perfbench.job", tag)
        val (gc0, jit0) = (gcMs, jitMs)
        val epoch0 = System.currentTimeMillis()
        val j0 = nowMs
        var (b, p, e) = (Double.NaN, Double.NaN, Double.NaN)
        var err: String = null
        try {
          val df = registry(name)(spark, data)
          val j1 = nowMs; b = (j1 - j0) / 1e3
          df.queryExecution.executedPlan
          val j2 = nowMs; p = (j2 - j1) / 1e3
          if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
          else exec(df)
          e = (nowMs - j2) / 1e3
        } catch { case NonFatal(x) => err = describe(x) }
        val j3 = nowMs
        val (gc1, jit1, epoch1) = (gcMs, jitMs, System.currentTimeMillis())
        wall += (j3 - j0) / 1e3
        sc.setLocalProperty("perfbench.job", null)
        if (check) checked += Map("name" -> name, "error" -> err)
        records += Map("pass" -> pass, "kind" -> kind, "traced" -> traced, "idx" -> idx,
          "name" -> name, "tag" -> tag, "start_ms" -> j0, "end_ms" -> j3,
          "epoch_start_ms" -> epoch0, "epoch_end_ms" -> epoch1,
          "build_s" -> b, "plan_s" -> p, "exec_s" -> e, "total_s" -> (j3 - j0) / 1e3,
          "gc_ms" -> (gc1 - gc0), "jit_ms" -> (jit1 - jit0), "error" -> err)
      }
      if (traced) {
        // events reach listeners asynchronously: let every Spark job this
        // pass started be reported before the listeners come off
        val deadline = System.nanoTime() + 10000000000L
        while (recorder.ended < recorder.started && System.nanoTime() < deadline) Thread.sleep(10)
        Thread.sleep(200)
        sc.removeSparkListener(recorder); spark.streams.removeListener(streamRecorder)
      }
      passes += Map("pass" -> pass, "kind" -> kind, "traced" -> traced,
        "start_ms" -> pStart, "end_ms" -> nowMs, "wall_s" -> wall,
        "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._1),
        "codegen_compile_s" -> (CodeGenerator.compileTime - cg0._2) / 1e9)
    }

    var pass = 0
    runPass(pass, "cold", traced = false); pass += 1
    runPass(pass, "check", traced = false); pass += 1
    val w0 = nowMs
    var nWarm = 0
    while (nWarm < minWarm || (nowMs - w0) / 1e3 < seconds) {
      runPass(pass, "warm", traced = trace && nWarm % 2 == 0); pass += 1; nWarm += 1
    }
    val measured = (nowMs - w0) / 1e3

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => jobs.contains(k) }

    val rt = Runtime.getRuntime
    val out = Map(
      "setup_s" -> setupS,
      "measured_s" -> measured,
      "passes" -> passes,
      "jobs" -> records,
      "checked" -> checked,
      "oracle_sql" -> oracle,
      "live_heap_peak_b" -> heapAfterGcPeak.get,
      "heap_max_b" -> rt.maxMemory,
      "jvm" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version")),
      "spark_version" -> spark.version,
      "cpus" -> cpus,
      "trace" -> (if (!trace) Map.empty[String, Any] else Map(
        "spark_jobs" -> recorder.synchronized(recorder.jobs.toList),
        "stages" -> recorder.stageRecords,
        "batches" -> streamRecorder.synchronized(streamRecorder.batches.toList))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), js(out))
    spark.stop()
    rmrf(new java.io.File(ExtraQueries.scratchRoot))
  }
}
