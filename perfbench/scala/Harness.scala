package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry

/** The benchmark's JVM side. It drives the engine only through its
  * public entry points (`SparkEntry.queries`, `graft.streaming.Streaming`)
  * and observes it only through
  * Spark's listener APIs. It writes raw samples and spans to
  * `<out>/result.json`; `perfbench/run.py` turns them into metrics.
  *
  * Usage: Harness batch|stream --key value ... (see `run.py`).
  */
object Harness {
  /** A JSON object of the result file. */
  type Obj = Map[String, Any]
  def Obj(kv: (String, Any)*): Obj = kv.toMap

  def writeJson(path: Path, v: Obj): Unit =
    Files.writeString(path, Serialization.write(v)(DefaultFormats))

  /** Queries of these families are heavy (task compute and shuffle);
    * every other declared query is light. The batch workload times
    * light queries. */
  val HeavyFamilies = Set("llm-dedup", "llm-text", "llm-similarity")

  def family(q: String): String = SparkEntry.queryDoc(q)._1

  def lightCatalog: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(q => HeavyFamilies(family(q)))

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Spark's default of 100 generated classes is smaller than one
      // pass of the light workload: every pass then recompiled every
      // class and the JIT never settled on them
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def epochMs(): Double = System.nanoTime() / 1e6 + Clock.offset

  object Clock {
    // wall-clock ms at nanoTime precision, comparable with listener times
    val offset: Double = System.currentTimeMillis() - System.nanoTime() / 1e6
  }

  @volatile private var calibSink = 0L

  /** Host-speed probe: a fixed single-threaded xorshift loop. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    calibSink = x
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Listener state. The executor-CPU counter is always on; everything
    * else is recorded only while `tracing` is set. */
  class Recorder extends SparkListener {
    @volatile var tracing = false
    val cpuNs = new AtomicLong
    val jobs = new ConcurrentHashMap[Int, Obj]
    val stages = new ConcurrentHashMap[String, Obj]
    val aqeUpdates = new ConcurrentHashMap[Long, AtomicLong]
    val plans = new ConcurrentHashMap[Long, SparkPlanInfo]

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null) cpuNs.addAndGet(m.executorCpuTime)
      if (tracing && m != null) stages.put(s"${s.stageId}.${s.attemptNumber()}", Obj(
        "stage" -> s.stageId, "start" -> s.submissionTime.getOrElse(0L),
        "end" -> s.completionTime.getOrElse(0L), "tasks" -> s.numTasks,
        "task_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead, "input_rows" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
      val p = Option(e.properties)
      jobs.put(e.jobId, Obj("job" -> e.jobId, "start" -> e.time, "end" -> 0L,
        "group" -> p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
        "execution" -> p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).getOrElse(""),
        "stages" -> e.stageIds))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
      jobs.put(e.jobId, j + ("end" -> e.time))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = if (tracing) e match {
      case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        plans.put(u.executionId, u.sparkPlanInfo)
        aqeUpdates.computeIfAbsent(u.executionId, _ => new AtomicLong).incrementAndGet()
      case _ =>
    }

    /** Waits until the asynchronous listener bus has drained. */
    def settle(): Unit = {
      var prev = -1L
      var spins = 0
      while (cpuNs.get() != prev && spins < 40) { prev = cpuNs.get(); Thread.sleep(50); spins += 1 }
    }

    /** Exchanges in an execution's final (post-AQE) plan; reused
      * exchanges move no new bytes and are not counted. */
    def exchanges(execution: Long): Int = {
      def walk(p: SparkPlanInfo): Int =
        (if (p.nodeName.endsWith("Exchange") && !p.nodeName.startsWith("Reused")) 1 else 0) +
          p.children.map(walk).sum
      Option(plans.get(execution)).map(walk).getOrElse(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opts = args.tail.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opts("work")
    val out = opts("out")
    Files.createDirectories(Paths.get(out))
    val spark = session(opts("cores").toInt, work)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val base = Obj("session_ready_ms" -> epochMs())
    val result = try {
      if (mode == "batch") Batch.run(spark, rec, opts)
      else StreamBench.run(spark, rec, opts)
    } finally spark.stop()
    writeJson(Paths.get(out, "result.json"),
      base ++ result ++ Obj("peak_rss_mb" -> peakRssMb()))
  }
}

/** The closed-loop batch workload. */
object Batch {
  import Harness._

  def run(spark: SparkSession, rec: Recorder, opts: Map[String, String]): Obj = {
    val out = opts("out")
    val seed = opts("seed").toLong
    val passCount = opts("passes").toInt
    val trace = opts("trace") == "1"
    // every declared query has a family, so it is either light or heavy
    require(SparkEntry.queries.keySet == SparkEntry.queryDoc.keySet, "a declared query has no family")
    val light = lightCatalog
    val queries = opts("queries").split(',').toSeq
    val outside = queries.filterNot(light.contains)
    require(outside.isEmpty, s"not light queries: ${outside.mkString(",")}")

    var failures = Map.empty[String, String]
    def fail(what: String, e: Throwable): Unit = {
      failures += what -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      System.err.println(s"[perfbench] $what failed: ${e.getMessage}")
    }

    val data = opts("data")

    def dump(q: String, dir: String): Double = {
      val t = epochMs()
      try SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
      catch { case e: Throwable => fail(s"$q:$dir", e) }
      (epochMs() - t) / 1000
    }

    // warm-up, two passes: codegen, JIT and per-JVM snapshot builds (the
    // second pass reuses what the first built, and lets the JIT settle).
    // Their outputs are the two digests the output check compares.
    val tWarm0 = epochMs()
    val warmQueryS = queries.map(q => q -> dump(q, s"$out/warm")).toMap
    val checkQueryS = queries.map(q => q -> dump(q, s"$out/check")).toMap
    // then one untimed pass on the timed path, so that the JIT has
    // settled on it before the first timed pass
    for (q <- queries) {
      try SparkEntry.queries(q)(spark, data).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => fail(s"$q:warm", e) }
    }
    val warmS = (epochMs() - tWarm0) / 1000

    val calib = ArrayBuffer(calibrate())
    rec.settle()

    val samples = ArrayBuffer.empty[Obj]
    val spans = ArrayBuffer.empty[Obj]
    val passes = ArrayBuffer.empty[Obj]
    val rng = new scala.util.Random(seed)
    // a traced run alternates untraced and traced passes; the
    // difference of their medians is the tracing overhead
    for (pass <- 0 until passCount) {
      val traced = trace && pass % 2 == 1
      rec.tracing = traced
      val cpu0 = rec.cpuNs.get()
      val pStart = epochMs()
      for (q <- rng.shuffle(queries)) {
        val id = s"p$pass.$q"
        spark.sparkContext.setJobGroup(id, id)
        val qs = epochMs()
        try {
          val df = SparkEntry.queries(q)(spark, data)
          val built = epochMs()
          if (traced) df.queryExecution.executedPlan
          val planned = epochMs()
          df.write.mode("overwrite").format("noop").save()
          val end = epochMs()
          samples += Obj("query" -> q, "family" -> family(q), "pass" -> pass,
            "traced" -> traced, "wall_s" -> (end - qs) / 1000)
          if (traced) {
            spans += Obj("id" -> id, "parent" -> "", "name" -> "query", "query" -> q,
              "family" -> family(q), "start" -> qs, "end" -> end)
            spans += Obj("id" -> s"$id/build", "parent" -> id, "name" -> "build", "start" -> qs, "end" -> built)
            spans += Obj("id" -> s"$id/plan", "parent" -> id, "name" -> "plan", "start" -> built, "end" -> planned)
            spans += Obj("id" -> s"$id/execute", "parent" -> id, "name" -> "execute", "start" -> planned, "end" -> end)
          }
        } catch { case e: Throwable => fail(id, e) }
        finally spark.sparkContext.clearJobGroup()
      }
      val pEnd = epochMs()
      rec.settle()
      passes += Obj("pass" -> pass, "traced" -> traced, "wall_s" -> (pEnd - pStart) / 1000,
        "cpu_s" -> (rec.cpuNs.get() - cpu0) / 1e9)
    }
    rec.tracing = false
    calib += calibrate()

    val jobs = rec.jobs.values.asScala.toSeq.sortBy(_("job").asInstanceOf[Int])
    val executions = jobs.map(_("execution").toString).filter(_.nonEmpty).distinct
    val plansJson = executions.map { e =>
      Obj("execution" -> e, "exchanges" -> rec.exchanges(e.toLong),
        "aqe_replans" -> Option(rec.aqeUpdates.get(e.toLong)).map(_.get).getOrElse(0L))
    }
    Obj("queries" -> queries,
      "catalog_sizes" -> Obj("light" -> light.size, "heavy" -> (SparkEntry.queries.size - light.size)),
      "oracle" -> queries.filter(SparkEntry.oracleSql.contains)
        .map(q => Obj("query" -> q, "sql" -> SparkEntry.oracleSql(q))),
      "data" -> data, "warm_s" -> warmS, "warm_query_s" -> warmQueryS, "calib_s" -> calib.toSeq,
      "check_query_s" -> checkQueryS, "samples" -> samples.toSeq, "passes" -> passes.toSeq, "spans" -> spans.toSeq,
      "jobs" -> jobs, "stages" -> rec.stages.values.asScala.toSeq, "plans" -> plansJson,
      "failures" -> failures)
  }
}
