package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.Streaming

/** The stream workload: the reference's consumer pipeline over a file
  * source fed by `producer.py`. Phase 1 drains a seeded backlog; phase 2
  * ingests at the producer's fixed rate while one reader thread queries
  * the served tables at a fixed rate (open loop). Afterwards the served
  * tables are compared with their batch twins over the same events.
  */
object StreamBench {
  import Harness._

  val Sinks = Seq("tumbling", "stats", "upserts", "dgim")

  /** Every progress report of the running queries, as recorded. */
  class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[Obj]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = Instant.parse(p.timestamp).toEpochMilli
      val ops = p.stateOperators
      events.add(Obj("query" -> p.name, "batch" -> p.batchId, "rows" -> p.numInputRows,
        "start" -> start, "commit" -> (start + d.getOrElse("triggerExecution", 0L)),
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L), "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "offset_ms" -> d.getOrElse("latestOffset", 0L), "plan_ms" -> d.getOrElse("queryPlanning", 0L),
        "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
        "state_rows" -> ops.map(_.numRowsTotal).sum, "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "late_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum))
    }
    /** Input rows every one of `names` has committed (0 until all report). */
    def rows(names: Seq[String]): Long = {
      val byQuery = events.asScala.toSeq.groupBy(_("query").toString)
      if (!names.forall(byQuery.contains)) 0L
      else names.map(n => byQuery(n).map(_("rows").asInstanceOf[Long]).sum).min
    }
  }

  def pipeline(spark: SparkSession, spool: String, prefix: String, filesPerTrigger: Int): Seq[StreamingQuery] = {
    val wire = spark.readStream.format("text").option("maxFilesPerTrigger", filesPerTrigger.toString)
      .load(spool)
    val events = Streaming.wireDecode(wire)
    Seq(
      Streaming.serveMemory(Streaming.tumblingCounts(events), prefix + "tumbling"),
      Streaming.serveMemory(Streaming.statsMultiDim(events, Seq("event_type", "user_id")), prefix + "stats"),
      Streaming.serveMemory(Streaming.upsertLatest(events), prefix + "upserts", mode = "append"),
      Streaming.serveMemory(Streaming.dgimCounts(events).toDF(), prefix + "dgim"))
  }

  def readSql(k: Int): String = k % 4 match {
    case 0 => "SELECT wstart, event_type, max(n) AS n FROM tumbling GROUP BY wstart, event_type " +
      "ORDER BY wstart DESC LIMIT 10"
    case 1 => "SELECT dim_value, max(n) AS n FROM stats WHERE dim = 'event_type' GROUP BY dim_value"
    case 2 => s"SELECT count(*) FROM upserts WHERE user_id = ${k % 50}"
    case _ => "SELECT event_type, max(last_ts) AS last_ts FROM dgim GROUP BY event_type"
  }

  def run(spark: SparkSession, rec: Recorder, opts: Map[String, String]): Obj = {
    val base = opts("stream-dir")
    val spool = s"$base/spool"
    val seconds = opts("seconds").toDouble
    val readsPerS = opts("reads-per-s").toDouble
    val filesPerTrigger = opts("files-per-trigger").toInt
    val backlogLines = opts("backlog-lines").toLong
    val progress = new Progress
    spark.streams.addListener(progress)
    var failures = Map.empty[String, String]
    def fail(what: String, e: Throwable): Unit = {
      failures += what -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      System.err.println(s"[perfbench] $what failed: ${e.getMessage}")
    }

    // warm-up on a separate small spool: codegen and state-store set-up
    val tWarm0 = epochMs()
    val warm = pipeline(spark, opts("warm-spool"), "w_", filesPerTrigger)
    warm.foreach(_.processAllAvailable())
    warm.foreach(_.stop())
    val warmS = (epochMs() - tWarm0) / 1000
    val calib = ArrayBuffer(calibrate())

    // phase 1: drain the backlog
    rec.settle()
    rec.tracing = opts("trace") == "1"
    val cpu0 = rec.cpuNs.get()
    val drainStart = epochMs()
    val queries = pipeline(spark, spool, "", filesPerTrigger)
    while (progress.rows(Sinks) < backlogLines && queries.forall(_.isActive)) Thread.sleep(5)
    val drainSeen = epochMs()
    rec.settle()
    val drainCpuS = (rec.cpuNs.get() - cpu0) / 1e9

    // phase 2: the producer writes at its fixed rate; one reader queries
    // the served tables at a fixed rate, each read timed from its due time
    val start = epochMs() + 100
    Files.writeString(Paths.get(s"$base/go.tmp"), f"$start%.3f")
    Files.move(Paths.get(s"$base/go.tmp"), Paths.get(s"$base/go"))
    val reads = new ConcurrentLinkedQueue[Obj]
    val deadline = start + seconds * 1000
    val reader = new Thread(() => {
      var k = 0
      while (k < seconds * readsPerS && epochMs() < deadline) {
        val due = start + k * 1000 / readsPerS
        val wait = due - epochMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val t = epochMs()
        val ok = try { spark.sql(readSql(k)).collect(); true }
        catch { case e: Throwable => fail(s"read $k", e); false }
        reads.add(Obj("kind" -> k % 4, "due" -> due, "start" -> t, "end" -> epochMs(), "ok" -> ok))
        k += 1
      }
    })
    reader.start()
    Thread.sleep(math.max(0L, (deadline - epochMs()).toLong))
    Files.createFile(Paths.get(s"$base/stop"))
    reader.join()
    while (!Files.exists(Paths.get(s"$base/done"))) Thread.sleep(5)
    queries.foreach { q =>
      try q.processAllAvailable() catch { case e: Throwable => fail(s"query ${q.name}", e) }
    }
    calib += calibrate()
    queries.foreach(_.stop())
    rec.settle()
    rec.tracing = false

    // output check: the served tables against their batch twins over
    // the same events; stale events are past every watermark
    val ev = Streaming.wireDecode(spark.read.text(spool))
    val kept = ev.filter(col("ts") >= lit(opts("stale-before")).cast("timestamp"))
    def diff(name: String, served: DataFrame, twin: DataFrame): Obj = {
      val (a, b) = try (served.exceptAll(twin).count(), twin.exceptAll(served).count())
      catch { case e: Throwable => fail(s"check $name", e); (-1L, -1L) }
      Obj("table" -> name, "served_only" -> a, "twin_only" -> b, "rows" -> served.count())
    }
    val checks = Seq(
      diff("tumbling", spark.table("tumbling").groupBy("wstart", "event_type").agg(max("n").as("n")),
        Streaming.tumblingCounts(kept)),
      diff("stats", spark.table("stats").groupBy("dim", "dim_value").agg(max("n").as("n")),
        Streaming.statsMultiDim(ev, Seq("event_type", "user_id"))),
      // checkpointed: exceptAll cannot plan over a batch watermark node
      diff("upserts", spark.table("upserts"), Streaming.upsertLatest(kept).localCheckpoint()),
      diff("dgim", spark.table("dgim").groupBy("event_type").agg(max("last_ts").as("last_ts")),
        ev.groupBy("event_type").agg(max(col("ts").cast("long")).as("last_ts"))))

    Obj("warm_s" -> warmS, "calib_s" -> calib.toSeq,
      "drain_start" -> drainStart, "drain_seen" -> drainSeen, "drain_cpu_s" -> drainCpuS,
      "phase2_start" -> start, "reads_due" -> (seconds * readsPerS).toInt, "progress" -> progress.events.asScala.toSeq,
      "reads" -> reads.asScala.toSeq, "checks" -> checks, "failures" -> failures,
      "jobs" -> rec.jobs.size, "stages" -> rec.stages.values.asScala.toSeq)
  }
}
