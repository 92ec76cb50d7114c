package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{GraftSession, Q, SparkEntry}

/** One benchmark run in one JVM, one closed-loop client.
  *
  *  1. Set up the session and the tables once, timing session start (from
  *     the driver's entry, so class loading and Spark start are inside) and
  *     table loading separately.
  *  2. [[WarmupPasses]] untimed passes, then timed passes until `seconds`
  *     have elapsed, and at least [[MinPasses]] (or [[MinTracedPasses]]).
  *     Every pass runs every op once, in one order drawn from `seed` for
  *     the run. Each sample runs from the call that builds the DataFrame,
  *     through `queryExecution.executedPlan`, to the last row collected,
  *     and is followed by a [[HostSpeed]] burst outside the sample.
  *  3. The first pass's results are written as parquet under `check`, with
  *     the ops' DuckDB oracle SQL, for perfbench/run.py to compare.
  *
  * With `trace=1` a [[Trace]] listener records jobs, stages and task
  * metrics. It is attached during set-up and on timed passes in the order
  * traced, untraced, untraced, traced (repeated), so that pass times still
  * falling after the warm-up weigh on both sides of the tracing overhead
  * alike. Every phase sets a job group `op|pass|phase`, which ties each
  * job to its sample and phase.
  *
  * Arguments are `key=value`: data, lane (cached|parquet), ops (comma
  * list), cpus, seed, seconds, trace (0|1), check (dir), out (JSON file of
  * raw records).
  */
object Driver {
  /** Untimed passes before the timed ones. Under C1 only, the first pass
    * compiles most of the code and the second still runs 5-20% slower than
    * the rest; a second warm-up pass does not fit the run's time budget,
    * so the run reports the median timed pass (perfbench/README.md,
    * "Sizing"). */
  val WarmupPasses = 1
  val MinPasses = 3
  /** Traced runs repeat traced, untraced, untraced, traced. */
  val MinTracedPasses = 4
  private val baseNs = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  /** Epoch microseconds on the monotonic clock, comparable with the
    * listener's epoch-millisecond event times. */
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNs) / 1000L

  final case class Sample(op: String, pass: Int, traced: Boolean,
      t0: Long, t1: Long, t2: Long, t3: Long, rows: Long, err: String,
      exchanges: Int, rddScans: Int, codegen: Int)

  def main(args: Array[String]): Unit = {
    val entryUs = nowUs()
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val ops = a("ops").split(",").toSeq
    val unknown = ops.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"ops not in SparkEntry.queries: ${unknown.mkString(",")}")
    val data = a("data")
    val lane = a("lane")
    require(lane == "cached" || lane == "parquet", s"unknown lane $lane")
    val cpus = a("cpus").toInt
    val parts = math.max(8, cpus)
    val shuffle = math.max(4, cpus / 4)
    val traceOn = a("trace") == "1"
    val check = a("check")

    // ---- set-up, once, from the driver's entry ----
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    new GraftSession(spark)
    val sessionUs = nowUs()
    val trace = if (traceOn) new Trace else null
    if (traceOn) sc.addSparkListener(trace)
    sc.setJobGroup("setup|0|tables", "tables", false)
    if (lane == "cached") Q.cacheTables(spark, data, parts)
    else Q.registerAll(spark, data)
    sc.clearJobGroup()
    val setupUs = (sessionUs - entryUs, nowUs() - sessionUs)
    val cachedBytes = sc.getRDDStorageInfo.map(_.memSize).sum

    // One order per run: Spark's codegen cache (100 classes) is smaller
    // than what a pass generates, so an order drawn afresh each pass would
    // change how many classes each pass compiles again
    val order = new scala.util.Random(a("seed").toLong).shuffle(ops)
    val hostBurstNs = ArrayBuffer[Long]()
    // the first timed pass's results, for the oracle check
    val results = mutable.LinkedHashMap[String, (StructType, Seq[InternalRow])]()
    def runSample(op: String, pass: Int, traced: Boolean): Sample = {
      def group(phase: String) = sc.setJobGroup(s"$op|$pass|$phase", op, false)
      val t0 = nowUs()
      var t1, t2 = t0
      var rows = 0L
      var err = ""
      var plan: SparkPlan = null
      try {
        group("build")
        val df = SparkEntry.queries(op)(spark, data)
        t1 = nowUs(); t2 = t1
        group("plan")
        plan = df.queryExecution.executedPlan
        t2 = nowUs()
        group("exec")
        val chunks = sc.runJob(plan.execute(),
          (it: Iterator[InternalRow]) => it.map(_.copy()).toArray)
        rows = chunks.map(_.length.toLong).sum
        if (pass == 0) results(op) = (df.schema, chunks.flatten.toSeq)
      } catch { case NonFatal(e) => err = firstLine(e) }
      finally sc.clearJobGroup()
      val t3 = nowUs()
      val counts = if (traced && plan != null) planCounts(plan) else (0, 0, 0)
      Sample(op, pass, traced, t0, t1, t2, t3, rows, err,
        counts._1, counts._2, counts._3)
    }
    /** A pass's time is the sum of its samples'; between samples a host
      * speed burst runs, which is kept for timed passes only. */
    def runPass(pass: Int, traced: Boolean): (Long, Long, Seq[Sample]) = {
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val s = order.map { op =>
        val sample = runSample(op, pass, traced)
        val ns = HostSpeed.burst(cpus)
        if (pass >= 0) hostBurstNs += ns
        sample
      }
      (s.map(x => x.t3 - x.t0).sum,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles, s)
    }

    // ---- warm-up passes, untimed ----
    if (traceOn) { BenchBus.drain(sc); sc.removeSparkListener(trace) }
    for (w <- 1 to WarmupPasses) runPass(-w, traced = false)

    // ---- timed passes ----
    val passUs = ArrayBuffer[(Long, Boolean, Long)]()
    val samples = ArrayBuffer[Sample]()
    val timedStart = System.nanoTime()
    val minPasses = if (traceOn) MinTracedPasses else MinPasses
    val seconds = a("seconds").toDouble
    while (passUs.size < minPasses ||
        (System.nanoTime() - timedStart) / 1e9 < seconds) {
      val traced = traceOn && (passUs.size % 4 == 0 || passUs.size % 4 == 3)
      if (traced) sc.addSparkListener(trace)
      val (us, compiles, s) = runPass(passUs.size, traced)
      if (traced) { BenchBus.drain(sc); sc.removeSparkListener(trace) }
      passUs += ((us, traced, compiles))
      samples ++= s
    }
    val timedUs = (System.nanoTime() - timedStart) / 1000L

    // ---- results as parquet, with the ops' DuckDB oracle SQL; ops without
    // oracle SQL are left out and the comparison counts them as mismatches
    results.foreach { case (op, (schema, rows)) =>
      val toRow = ExpressionEncoder(RowEncoder.encoderFor(schema))
        .resolveAndBind().createDeserializer()
      spark.createDataFrame(java.util.Arrays.asList(rows.map(toRow): _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$check/$op")
    }
    Files.writeString(Paths.get(s"$check/oracle_sql.json"),
      ops.flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _))
        .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}"))

    // ---- raw records out ----
    val j = new StringBuilder("{")
    j ++= s""""lane":${Json.str(lane)},"cpus":$cpus,"parts":$parts,"shuffle":$shuffle,"aqe":false,"""
    j ++= s""""heap_bytes":${Runtime.getRuntime.maxMemory},"spark":${Json.str(spark.version)},"""
    j ++= s""""setup":[${setupUs._1},${setupUs._2}],"warmup":$WarmupPasses,"""
    j ++= s""""cached_bytes":$cachedBytes,"""
    j ++= s""""timed_us":$timedUs,"""
    j ++= s""""passes":${passUs.map { case (us, t, c) => s"[$us,$t,$c]" }.mkString("[", ",", "]")},"""
    j ++= s""""host_burst_ns":${hostBurstNs.mkString("[", ",", "]")},"""
    j ++= s""""samples":${samples.map(s =>
      s"""[${Json.str(s.op)},${s.pass},${s.traced},${s.t0},${s.t1},${s.t2},${s.t3},${s.rows},${Json.str(s.err)},${s.exchanges},${s.rddScans},${s.codegen}]""")
      .mkString("[", ",", "]")}"""
    if (trace != null) j ++= "," ++= trace.json
    j ++= "}"
    Files.writeString(Paths.get(a("out")), j.toString)
    spark.stop()
  }

  /** Exchanges, RDD scans (ExistingRDD and checkpoint leaves) and
    * whole-stage codegen stages, subqueries included. */
  def planCounts(plan: SparkPlan): (Int, Int, Int) = {
    val nodes = plan.collectWithSubqueries { case n => n }
    (nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[RDDScanExec]),
      nodes.count(_.isInstanceOf[WholeStageCodegenExec]))
  }

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
}

/** Jobs, stages and per-stage task totals. Callbacks run on the single
  * listener-bus thread; records are read only after [[BenchBus.drain]]. */
final class Trace extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long,
      val stages: Seq[Int]) { var end = -1L }
  final class Stage(val id: Int, val attempt: Int) {
    var submit, complete = -1L
    var tasks, retries = 0
    var runMs, cpuNs, gcMs, deserMs, delayMs, inBytes, inRows, shufRead,
      shufWrite, fetchWaitMs, spill = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private def stage(id: Int, attempt: Int) =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, g, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submit = i.submissionTime.getOrElse(-1L)
    s.complete = i.completionTime.getOrElse(-1L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    val i = e.taskInfo
    s.tasks += 1
    if (i.attemptNumber > 0 || i.failed || i.killed) s.retries += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.deserMs += m.executorDeserializeTime
      val gettingResult = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
      s.delayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
      s.shufRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shufWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
    }
  }

  def json: String = {
    val js = jobs.values.map(j =>
      s"[${j.id},${Json.str(j.group)},${j.start},${j.end},${j.stages.mkString("[", ",", "]")}]")
    val ss = stages.values.map(s =>
      s"[${s.id},${s.attempt},${s.submit},${s.complete},${s.tasks},${s.retries}," +
        s"${s.runMs},${s.cpuNs / 1000000L},${s.gcMs},${s.deserMs},${s.delayMs}," +
        s"${s.inBytes},${s.inRows},${s.shufRead},${s.shufWrite},${s.fetchWaitMs},${s.spill}]")
    s""""jobs":${js.mkString("[", ",", "]")},"stages":${ss.mkString("[", ",", "]")}"""
  }
}

/** A fixed unit of pure-JVM work: a pseudo-random walk over a 256 KiB
  * array, with a data-dependent branch, on `threads` threads at once. It
  * uses no engine or Spark code, so a change to the program cannot move its
  * time; the host can, and the benchmark scales its end-to-end times by it
  * (perfbench/README.md, "Host speed"). */
object HostSpeed {
  val Iterations = 2000000
  private val pool = java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "host-speed"); t.setDaemon(true); t
  }
  private val arrays = ThreadLocal.withInitial[Array[Int]](() => new Array[Int](1 << 16))
  @volatile private var sink = 0

  def walk(seed: Int): Int = {
    val a = arrays.get()
    var x = seed
    var acc = 0
    var i = 0
    while (i < Iterations) {
      x = x * 1103515245 + 12345
      val j = (x >>> 16) & 0xffff
      acc += a(j)
      a(j) = acc ^ i
      if ((acc & 1) == 0) acc += 3 else acc ^= x
      i += 1
    }
    acc
  }

  /** Wall nanoseconds for `threads` walks run side by side. */
  def burst(threads: Int): Long = {
    val t0 = System.nanoTime()
    val fs = (1 to threads).map(k => pool.submit(new Runnable {
      def run(): Unit = sink += walk(k)
    }))
    fs.foreach(_.get())
    System.nanoTime() - t0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
