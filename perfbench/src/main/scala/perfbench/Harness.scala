package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** JVM side of the benchmark. `run.py` writes a plan file, this program
  * executes it and writes raw spans and counts as JSON; all statistics
  * are computed in Python.
  *
  * A run is a sequence of passes. Each pass builds a fresh session (empty
  * engine memos), runs a JIT warm-up query, then issues its operations one
  * at a time (one closed-loop client). `Cleanup.releaseAll` ends every
  * pass. The first `warmup_passes` passes only warm the JIT.
  *
  * Plan file: one `key value` pair per line; `order` lines list each
  * pass's operations, comma-separated, in issue order (the last line
  * repeats for any further pass).
  */
object Harness {

  // ---- clock: epoch milliseconds with nanoTime resolution -------------
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  final case class Plan(kv: Map[String, String], orders: Vector[Vector[String]]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"plan: missing $k"))
    def int(k: String): Int = apply(k).toInt
  }

  def readPlan(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty)
    val pairs = lines.map { l =>
      val i = l.indexOf(' ')
      if (i < 0) (l, "") else (l.take(i), l.drop(i + 1).trim)
    }
    Plan(pairs.filter(_._1 != "order").toMap,
      pairs.filter(_._1 == "order").map(_._2.split(",").toVector).toVector)
  }

  final case class OpRec(idx: Int, name: String, start: Double,
      buildEnd: Double, end: Double, ok: Boolean, err: String,
      runIds: Seq[String], ticks: Ticks = Ticks(0, 0, 0))

  final case class PassRec(pass: Int, traced: Boolean, setupStart: Double,
      setupEnd: Double, end: Double, ops: Seq[OpRec], setupTicks: Ticks, host0: HostSample,
      host1: HostSample, gcMs: Long, persistedRdds: Int, cachedBytes: Long,
      setupPhases: Map[String, Double], trace: Option[Tracer],
      probes: Map[String, Double], watermarks: Map[String, Long])

  final case class HostSample(load: Double, cpuTotal: Long, cpuSteal: Long, cpuIdle: Long)

  /** All-CPU tick counts over an interval (/proc/stat, USER_HZ): total,
    * idle (idle + iowait) and steal, the time the hypervisor ran something
    * else while a vCPU had work. */
  final case class Ticks(total: Long, idle: Long, steal: Long)

  def hostSample(): HostSample = {
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val (t, s, i) = try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).flatMap(_.toLongOption)
      if (f.length >= 8) (f.take(8).sum, f(7), f(3) + f(4)) else (-1L, -1L, -1L)
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L, -1L) }
    HostSample(load, t, s, i)
  }

  def ticks(h0: HostSample, h1: HostSample): Ticks =
    if (h0.cpuTotal < 0 || h1.cpuTotal < 0) Ticks(-1, -1, -1)
    else Ticks(h1.cpuTotal - h0.cpuTotal, h1.cpuIdle - h0.cpuIdle, h1.cpuSteal - h0.cpuSteal)

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val outJson = args(1)
    val workload = plan("workload")
    val cpus = plan.int("cpus")
    val seconds = plan("seconds").toDouble
    val traceMode = plan("trace") == "1"
    val warmPasses = plan.int("warmup_passes")
    val minPasses = warmPasses + plan.int("min_timed_passes")
    val maxPasses = plan.int("max_passes")
    val work = plan("work")
    val data = plan("data")

    val passes = mutable.ArrayBuffer[PassRec]()
    // the first passes warm the JIT on the workload's own operations and
    // are not timed. A timed pass starts only if it is expected to end
    // inside the measuring window, after the minimum count.
    def span(p: PassRec): Double = (p.end - p.setupStart) / 1000.0
    def timed = passes.drop(warmPasses).map(span).sum
    def expectedPass: Double = {
      val t = passes.drop(warmPasses).map(span).sorted
      if (t.isEmpty) 0.0 else t(t.size / 2)
    }
    var pass = 0
    while (pass < maxPasses &&
        (pass < minPasses || timed + expectedPass <= seconds)) {
      // traced runs alternate untraced and traced timed passes, so the
      // same run yields the tracing overhead; untraced runs never register
      val traced = traceMode && pass > warmPasses && (pass - warmPasses) % 2 == 1
      val order = plan.orders(pass.min(plan.orders.size - 1))
      passes += runPass(plan, workload, pass, traced, order, cpus, data, work,
        probes = traced && pass == warmPasses + 1)
      pass += 1
    }
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val names = plan.orders.flatten.toSet
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) }
    Files.writeString(Paths.get(outJson),
      Json.obj(
        "workload" -> Json.str(workload),
        "oracles" -> Json.map(oracles.map { case (k, v) => k -> Json.str(v) }),
        "process_start_ms" -> Json.num(startMs.toDouble),
        "peak_rss_kb" -> Json.num(peakRssKb().toDouble),
        "passes" -> Json.arr(passes.map(passJson).toSeq)))
  }

  def peakRssKb(): Long = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  } catch { case scala.util.control.NonFatal(_) => -1L }

  // ---- one pass ---------------------------------------------------------

  def buildSession(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** The same JIT warm-up the engine's own Bench runs before timing. */
  def warmup(spark: SparkSession, data: String): Unit = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$data/documents.parquet").limit(2000)
    docs.select(md5(col("text")).as("h"),
        expr("size(filter(split(text, '[^a-z]+'), x -> x <> ''))").as("n"))
      .groupBy("h").agg(sum("n")).count()
    val li = spark.read.parquet(s"$data/lineitem.parquet").limit(50000)
    li.groupBy("l_returnflag").agg(sum("l_quantity"), countDistinct("l_partkey")).count()
    li.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy("l_orderkey"))).count()
    ()
  }

  def runPass(plan: Plan, workload: String, pass: Int, traced: Boolean,
      order: Vector[String], cpus: Int, data: String, work: String,
      probes: Boolean): PassRec = {
    val setupHost = hostSample()
    val setupStart = now()
    val spark = buildSession(cpus, work)
    spark.sparkContext.setLogLevel("ERROR")
    val phases = mutable.LinkedHashMap("session" -> (now() - setupStart) / 1000.0)
    // pass 0 warms the JIT with the workload's own operations instead
    if (pass > 0) {
      val t = now()
      warmup(spark, data)
      phases("warmup") = (now() - t) / 1000.0
    }
    val stream =
      if (workload == "stream_incremental") Some(new StreamOps(spark, plan, pass, work)) else None
    val tracer = if (traced) Some(Tracer.install(spark)) else None
    tracer.foreach(t => spark.streams.addListener(t.streamListener))
    val host0 = hostSample()
    val gc0 = gcMs()
    val setupEnd = now()
    val outDir = s"${plan("out")}/p$pass"
    val ops = order.zipWithIndex.map { case (name, idx) =>
      val group = s"pb-$pass-$idx"
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      val h0 = hostSample()
      val rec = stream match {
        case Some(s) => s.op(idx, name)
        case None => queryOp(spark, idx, name, data, outDir)
      }
      val h1 = hostSample()
      spark.sparkContext.clearJobGroup()
      rec.copy(ticks = ticks(h0, h1))
    }
    val end = now()
    val host1 = hostSample()
    val gc1 = gcMs()
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.size
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    // probes run in a new session, whose query listeners start empty
    val probeTimes = if (probes) Probes.run(spark.newSession(), plan) else Map.empty[String, Double]
    val watermarks = stream.map(_.watermarks.toMap).getOrElse(Map.empty[String, Long])
    // release memos, stream scratch and the session; stopping the
    // context drains the listener bus, so the tracer is complete after
    graft.Cleanup.releaseAll(spark)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    PassRec(pass, traced, setupStart, setupEnd, end, ops.toSeq, ticks(setupHost, host0), host0, host1,
      gc1 - gc0, persisted, cached, phases.toMap, tracer, probeTimes, watermarks)
  }

  /** One driver-contract query: the query function call (build) plus a
    * parquet write of its result (exec), which the oracle check reads. */
  def queryOp(spark: SparkSession, idx: Int, name: String, data: String,
      outDir: String): OpRec = {
    val fn = graft.SparkEntry.queries(name)
    val t0 = now()
    var t1 = t0
    val res = try {
      val df = fn(spark, data)
      t1 = now()
      df.write.mode("overwrite").parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val t2 = now()
    if (t1 == t0) t1 = t2
    // like the engine's Bench: release stream queries' memory sinks
    // outside the timed window
    if (name.startsWith("stream_")) try {
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_stream_")).foreach(spark.catalog.dropTempView)
      spark.streams.resetTerminated()
    } catch { case scala.util.control.NonFatal(_) => }
    OpRec(idx, name, t0, t1, t2, res.isEmpty, res.orNull, Nil)
  }

  // ---- JSON output --------------------------------------------------------

  def passJson(p: PassRec): String = {
    def host(h: HostSample) = Json.obj("load" -> Json.num(h.load),
      "cpu_total" -> Json.num(h.cpuTotal.toDouble), "cpu_steal" -> Json.num(h.cpuSteal.toDouble))
    def ticksJson(t: Ticks) = Json.obj("total" -> Json.num(t.total.toDouble),
      "idle" -> Json.num(t.idle.toDouble), "steal" -> Json.num(t.steal.toDouble))
    Json.obj(
      "pass" -> Json.num(p.pass), "traced" -> Json.bool(p.traced),
      "setup_start" -> Json.num(p.setupStart), "setup_end" -> Json.num(p.setupEnd),
      "end" -> Json.num(p.end),
      "host_start" -> host(p.host0), "host_end" -> host(p.host1),
      "setup_ticks" -> ticksJson(p.setupTicks),
      "gc_ms" -> Json.num(p.gcMs.toDouble),
      "persisted_rdds" -> Json.num(p.persistedRdds),
      "cached_bytes" -> Json.num(p.cachedBytes.toDouble),
      "setup_phases" -> Json.map(p.setupPhases.map { case (k, v) => k -> Json.num(v) }),
      "probes" -> Json.map(p.probes.map { case (k, v) => k -> Json.num(v) }),
      "watermarks" -> Json.map(p.watermarks.map { case (k, v) => k -> Json.num(v.toDouble) }),
      "ops" -> Json.arr(p.ops.map(o => Json.obj(
        "idx" -> Json.num(o.idx), "name" -> Json.str(o.name),
        "start" -> Json.num(o.start), "build_end" -> Json.num(o.buildEnd),
        "end" -> Json.num(o.end), "ok" -> Json.bool(o.ok),
        "err" -> (if (o.err == null) "null" else Json.str(o.err)),
        "ticks" -> ticksJson(o.ticks),
        "run_ids" -> Json.arr(o.runIds.map(Json.str))))),
      "trace" -> p.trace.map(_.json).getOrElse("null"))
  }
}

/** Minimal JSON writer: the harness only emits, never parses. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Int): String = v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def map(m: collection.Map[String, String]): String = obj(m.toSeq: _*)
}

/** The `stream_incremental` workload: increments of the events table land
  * one at a time in an input directory; after each, every standing
  * pipeline runs one `AvailableNow` trigger against its own checkpoint.
  * Operation names are `<increment>:<pipeline>`; the first operation that
  * names an increment lands it (outside the timed window).
  */
final class StreamOps(spark: SparkSession, plan: Harness.Plan, pass: Int, work: String) {
  import graft.streaming.Streams

  private val staged = plan("increments")
  private val base = s"$work/stream/p$pass"
  private val landing = s"$base/input"
  private val sinks = s"${plan("out")}/p$pass"
  new File(landing).mkdirs()
  private val landed = mutable.Set[String]()
  private val schema = spark.read.parquet(s"$staged/${plan("first_increment")}.parquet").schema
  val watermarks = mutable.Map[String, Long]()

  /** Unbounded-state pipelines take the RocksDB state-store policy, like
    * the contract stream queries. */
  private def unbounded(p: String): Boolean = p != "tumbling"

  private def land(inc: String): Unit = if (landed.add(inc)) {
    // copy under a hidden name, then rename: the file source never sees
    // a partial file
    val tmp = Paths.get(s"$landing/.$inc.parquet.tmp")
    Files.copy(Paths.get(s"$staged/$inc.parquet"), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(s"$landing/$inc.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def pipeline(p: String): DataFrame = {
    val events = spark.readStream.schema(schema).parquet(landing)
    p match {
      case "tumbling" => Streams.tumblingCounts(events)
      case "session" => Streams.sessionCounts(events)
      case "dedup" => Streams.dedupStreamExact(events, Seq("event_id"))
      case "stateful" =>
        import spark.implicits._
        Streams.statefulSessions(events.select(col("ts"), col("user_id").as("userId"),
          col("event_type").as("eventType"), col("value")).as[Streams.Event]).toDF()
      case other => sys.error(s"unknown pipeline $other")
    }
  }

  def op(idx: Int, name: String): Harness.OpRec = {
    val Array(inc, p) = name.split(":", 2)
    land(inc)
    val t0 = Harness.now()
    var t1 = t0
    var runIds = Seq.empty[String]
    val res = try {
      def run(): Unit = {
        val q = pipeline(p).writeStream
          .format("parquet")
          .option("path", s"$sinks/$p")
          .option("checkpointLocation", s"$base/ckpt/$p")
          .outputMode("append")
          .queryName(s"pb_$p")
          .trigger(Trigger.AvailableNow())
          .start()
        runIds = Seq(q.runId.toString)
        t1 = Harness.now()
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        Option(q.lastProgress).foreach { pr =>
          Option(pr.eventTime.get("watermark")).foreach(w =>
            watermarks(p) = java.time.Instant.parse(w).toEpochMilli)
        }
      }
      // the contract stream queries' fan-out (Sources.STREAM_FANOUT)
      graft.Tuning.withShufflePartitions(spark, 2) {
        if (unbounded(p)) graft.Tuning.withRocksDbStateStore(spark)(run()) else run()
      }
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val t2 = Harness.now()
    if (t1 == t0) t1 = t2
    spark.streams.resetTerminated()
    Harness.OpRec(idx, name, t0, t1, t2, res.isEmpty, res.orNull, runIds)
  }
}

/** Layer probes run once per traced run, after its first traced pass: a
  * `noop` scan of each input table (scan layer) and a `noop` select of
  * each SQL function the engine's extensions register (kernel layer). */
object Probes {
  private val kernels = Seq(
    "vec_dot" -> ("embeddings", "vec_dot(embedding, embedding) AS k"),
    "min_gram_hash" -> ("documents", "min_gram_hash(text) AS k"),
    "min_chargram_hash" -> ("documents", "min_chargram_hash(text) AS k"),
    "word_ngrams" -> ("documents", "word_ngrams(text, 3) AS k"),
    "nfc" -> ("documents", "nfc(text) AS k"),
    "casefold" -> ("documents", "casefold(text) AS k"))

  private def timeNoop(df: => DataFrame, reps: Int = 3): Double = {
    val ts = (0 until reps).map { _ =>
      val t = Harness.now()
      df.write.format("noop").mode("overwrite").save()
      (Harness.now() - t) / 1000.0
    }.sorted
    ts(ts.size / 2)
  }

  def run(spark: SparkSession, plan: Harness.Plan): Map[String, Double] = {
    val scans = plan("scan_tables").split(",").filter(_.nonEmpty).map { t =>
      s"scan.$t" -> timeNoop(spark.read.parquet(s"${plan("data")}/$t.parquet"))
    }
    val ks = kernels.map { case (k, (table, sel)) =>
      s"kernels.$k" -> timeNoop(spark.read.parquet(s"${plan("data")}/$table.parquet").selectExpr(sel))
    }
    (scans ++ ks).toMap
  }
}

/** Spark's public listeners, registered from the benchmark only in traced
  * passes. Every event is buffered in memory and written out at the end
  * of the run. Jobs link to operations by the job group the harness sets
  * per operation; jobs from threads that do not inherit it (streaming
  * micro-batches) link by time in Python.
  */
final class Tracer {
  import org.apache.spark.scheduler._

  final class StageAgg(val stage: Int, val attempt: Int) {
    var tasks, retries, failed = 0L
    var runMs, cpuNs, gcMs, inBytes, inRecs, swBytes, swRecs, swTimeNs = 0L
    var srBytes, srRecs, fetchWaitMs, spillMem, spillDisk, peakMem, resultBytes = 0L
    var start, end = 0.0
  }
  final case class JobRec(id: Int, group: String, start: Double, var end: Double,
      stages: Seq[Int], var ok: Boolean)
  final case class QeRec(t: Double, func: String, phases: Map[String, Double], ns: Long)
  final case class ProgressRec(runId: String, name: String, t: Double, batch: Long,
      rows: Long, dur: Map[String, Long], state: Seq[(Long, Long, Long, Long)])

  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageAgg]()
  val stageJob = mutable.Map[Int, Int]()
  val qes = mutable.ArrayBuffer[QeRec]()
  val progress = mutable.ArrayBuffer[ProgressRec]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobs += JobRec(e.jobId, group, e.time.toDouble, 0.0, e.stageIds, ok = false)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach { j =>
        j.end = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val a = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new StageAgg(i.stageId, i.attemptNumber()))
      a.start = i.submissionTime.map(_.toDouble).getOrElse(0.0)
      a.end = i.completionTime.map(_.toDouble).getOrElse(0.0)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg(e.stageId, e.stageAttemptId))
      a.tasks += 1
      if (e.taskInfo.attemptNumber > 0) a.retries += 1
      if (!e.taskInfo.successful) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead; a.inRecs += m.inputMetrics.recordsRead
        a.swBytes += m.shuffleWriteMetrics.bytesWritten
        a.swRecs += m.shuffleWriteMetrics.recordsWritten
        a.swTimeNs += m.shuffleWriteMetrics.writeTime
        a.srBytes += m.shuffleReadMetrics.totalBytesRead
        a.srRecs += m.shuffleReadMetrics.recordsRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillMem += m.memoryBytesSpilled; a.spillDisk += m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.resultBytes += m.resultSize
      }
    }
  }

  val qeListener: org.apache.spark.sql.util.QueryExecutionListener =
    new org.apache.spark.sql.util.QueryExecutionListener {
      private def rec(func: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        Tracer.this.synchronized {
          val phases = qe.tracker.phases
          val ph = phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs).toDouble }
          // stamped with the execution's own start, not the (async)
          // callback time, so it falls inside the operation that ran it
          val t = phases.values.map(_.startTimeMs.toDouble).minOption.getOrElse(Harness.now())
          qes += QeRec(t, func, ph, ns)
        }
      override def onSuccess(func: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = rec(func, qe, durationNs)
      override def onFailure(func: String, qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = rec(func, qe, -1L)
    }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val st = p.stateOperators.toSeq.map(s =>
          (s.numRowsTotal, s.numRowsUpdated, s.commitTimeMs, s.memoryUsedBytes))
        progress += ProgressRec(p.runId.toString, Option(p.name).getOrElse(""),
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, p.batchId,
          p.numInputRows, dur, st)
      }
  }

  def json: String = synchronized {
    import Json._
    obj(
      "jobs" -> arr(jobs.toSeq.map(j => obj("id" -> num(j.id),
        "group" -> (if (j.group == null) "null" else str(j.group)),
        "start" -> num(j.start), "end" -> num(j.end), "ok" -> bool(j.ok),
        "stages" -> arr(j.stages.map(s => num(s)))))),
      "stages" -> arr(stages.values.toSeq.map(a => obj(
        "stage" -> num(a.stage), "attempt" -> num(a.attempt),
        "job" -> num(stageJob.getOrElse(a.stage, -1)),
        "start" -> num(a.start), "end" -> num(a.end),
        "tasks" -> num(a.tasks.toDouble), "retries" -> num(a.retries.toDouble),
        "failed" -> num(a.failed.toDouble), "run_ms" -> num(a.runMs.toDouble),
        "cpu_ns" -> num(a.cpuNs.toDouble), "gc_ms" -> num(a.gcMs.toDouble),
        "in_bytes" -> num(a.inBytes.toDouble), "in_recs" -> num(a.inRecs.toDouble),
        "sw_bytes" -> num(a.swBytes.toDouble), "sw_recs" -> num(a.swRecs.toDouble),
        "sw_time_ns" -> num(a.swTimeNs.toDouble), "sr_bytes" -> num(a.srBytes.toDouble),
        "sr_recs" -> num(a.srRecs.toDouble), "fetch_wait_ms" -> num(a.fetchWaitMs.toDouble),
        "spill_mem" -> num(a.spillMem.toDouble), "spill_disk" -> num(a.spillDisk.toDouble),
        "peak_mem" -> num(a.peakMem.toDouble), "result_bytes" -> num(a.resultBytes.toDouble)))),
      "qe" -> arr(qes.toSeq.map(q => obj("t" -> num(q.t), "func" -> str(q.func),
        "ns" -> num(q.ns.toDouble),
        "phases" -> map(q.phases.map { case (k, v) => k -> num(v) })))),
      "progress" -> arr(progress.toSeq.map(p => obj("run_id" -> str(p.runId),
        "name" -> str(p.name), "t" -> num(p.t), "batch" -> num(p.batch.toDouble),
        "rows" -> num(p.rows.toDouble),
        "dur" -> map(p.dur.map { case (k, v) => k -> num(v.toDouble) }),
        "state" -> arr(p.state.map { case (tot, upd, commit, mem) =>
          obj("total" -> num(tot.toDouble), "updated" -> num(upd.toDouble),
            "commit_ms" -> num(commit.toDouble), "mem" -> num(mem.toDouble)) })))))
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.qeListener)
    t
  }
}
