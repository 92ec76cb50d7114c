package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The one place a graft session is built. Every `main` (and the test
  * fixture) picks a [[Harness.Profile]] and calls [[Harness.session]], so
  * the session config is one decision: a probe row explains the graded
  * run only when it was taken at the graded run's config.
  *
  * Profiles read `SPARK_GRAFT_*` from an env map (the process env by
  * default) so a spec can pin their derivation without starting a session.
  */
object Harness {

  /** What varies between the callers' sessions. `parts` is the partition
    * count a caller caches or repartitions its input at; `broadcast` is
    * the auto-broadcast join threshold, `None` for Spark's default. */
  final case class Profile(cores: Int, shuffle: Int, aqe: Boolean,
      broadcast: Option[String], parts: Int)

  // Env knobs parse loudly: a malformed value falls back to the default
  // with a stderr line naming the variable, instead of crashing the
  // whole run before any timing is emitted (r18 ADVICE item 3).
  private def parsed[T](env: Map[String, String], name: String, default: T,
      what: String)(parse: String => T): T =
    env.get(name).map { v =>
      // NumberFormatException is an IllegalArgumentException, as is
      // StringOps.toBoolean's rejection
      try parse(v.trim) catch { case _: IllegalArgumentException =>
        System.err.println(s"[harness] $name='$v' is not $what; using $default")
        default }
    }.getOrElse(default)

  def envInt(name: String, default: Int,
      env: Map[String, String] = sys.env): Int =
    parsed(env, name, default, "an int")(_.toInt)

  def envDouble(name: String, default: Double,
      env: Map[String, String] = sys.env): Double =
    parsed(env, name, default, "a number")(_.toDouble)

  def envBool(name: String, default: Boolean,
      env: Map[String, String] = sys.env): Boolean =
    parsed(env, name, default, "true or false")(_.toBoolean)

  /** Local cores: `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus(env: Map[String, String] = sys.env): Int =
    envInt("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors, env)

  /** The TPC-H acceptance protocol: [[Bench]], [[PlanDump]], [[StageProbe]].
    *
    * Scaling-honest defaults (r19 verdict item 2): when the env doesn't
    * pin them, parts/shuffle derive from the cores so a lower-core run
    * genuinely exposes less parallelism — the former fixed 8/4 capped
    * every query at 8 tasks regardless of core count, which made
    * 8-vs-32-core scaling ratios read ≈1 by construction.
    * Derivation measured in r20 (alternating clean legs at 32 cores,
    * sf0.1): parts = cpus, shuffle = cpus/4 (floors 8/4).
    * {{{
    *   8/4 (old pin)  8.95 / 8.58 s   — but caps every stage at 8 tasks
    *   32/16          11.14 / 10.55 s — post-shuffle task launch dominates
    *   32/4           13.07 s         — 32 map tasks feeding 4 reducers
    *   32/8           9.21 s          — scan parallelism follows cores,
    *                                    q1 0.23→0.19; within noise of 8/4
    * }}}
    * At cpus=8 the derivation reproduces the old 8/4 exactly, so the
    * historical 8-core artifacts stay comparable. `SPARK_GRAFT_BENCH_PARTS`,
    * `SPARK_GRAFT_BENCH_SHUFFLE` and `SPARK_GRAFT_AQE` win over the
    * derivation. At real scale the same knobs are sized to cores ×
    * executors; AQE (off here — its stage re-optimization costs more than
    * it saves on sub-second queries) would be on for a 100 TB run. */
  def acceptance(env: Map[String, String] = sys.env): Profile = {
    val c = cpus(env)
    Profile(c,
      shuffle = envInt("SPARK_GRAFT_BENCH_SHUFFLE", math.max(4, c / 4), env),
      aqe = envBool("SPARK_GRAFT_AQE", default = false, env),
      broadcast = Some("64MB"),
      parts = envInt("SPARK_GRAFT_BENCH_PARTS", math.max(8, c), env))
  }

  /** [[PipeBench]]: the pipeline operators run seconds-to-minutes at SF1,
    * where AQE's re-optimization pays for itself. */
  def pipebench(env: Map[String, String] = sys.env): Profile = {
    val c = cpus(env)
    Profile(c, shuffle = 32, aqe = true, broadcast = None, parts = c)
  }

  /** [[H2oBench]]: 32/32 with AQE on unless the env pins them. */
  def h2o(env: Map[String, String] = sys.env): Profile =
    Profile(cpus(env),
      shuffle = envInt("SPARK_GRAFT_BENCH_SHUFFLE", 32, env),
      aqe = envBool("SPARK_GRAFT_AQE", default = true, env),
      broadcast = Some("64MB"),
      parts = envInt("SPARK_GRAFT_BENCH_PARTS", 32, env))

  /** [[Verify]] and [[ScaleBench]]: one shuffle partition per core. */
  def verify(env: Map[String, String] = sys.env): Profile = {
    val c = cpus(env)
    Profile(c, shuffle = c, aqe = true, broadcast = None, parts = c)
  }

  /** Entries in Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). A class
    * evicted from it is compiled again by Janino the next time its query
    * runs, so the cache holds every class one pass of the engine's own
    * harnesses generates, with headroom. Measured with a cache too large
    * to evict (sf0.1, 4 cpus), a whole [[Bench]] run compiled 419 distinct
    * classes and a whole [[PipeBench]] run 2,459. At 100 entries a timed
    * `Bench` pass compiled 424.6 of them again; at this size, none. */
  val CodegenCacheEntries = 4096

  /** Sets [[CodegenCacheEntries]] as a JVM system property unless the
    * JVM line set one (`-Dspark.sql.codegen.cache.maxEntries=100` gives
    * Spark's default back for an A/B). It has to be a system property: the
    * conf is static, `CodeGenerator` reads it once per JVM, and
    * `SparkConf` picks up `spark.*` system properties when it is built, so
    * this must run before the JVM's first `SparkContext`. Called by
    * [[session]] and by [[SparkEntry]]'s initializer, which every driver
    * reads before it builds a session of its own. */
  def sizeCodegenCache(): Unit =
    sys.props.getOrElseUpdate("spark.sql.codegen.cache.maxEntries",
      CodegenCacheEntries.toString)

  /** The session for `p` on the shared base conf: UTC session time zone,
    * no UI, parquet nanos read as longs, WARN logging, and the codegen
    * cache at [[CodegenCacheEntries]]. */
  def session(p: Profile): SparkSession = {
    sizeCodegenCache()
    val b = SparkSession.builder()
      .master(s"local[${p.cores}]")
      .config("spark.sql.shuffle.partitions", p.shuffle.toLong)
      .config("spark.sql.adaptive.enabled", p.aqe)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    p.broadcast.foreach(b.config("spark.sql.autoBroadcastJoinThreshold", _))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds `body` takes, or -1.0 when it throws a non-fatal error (logged
    * as `[tag] name failed`). A fatal error (OOM, stack overflow) crashes
    * the run: a -1.0 cell must mean a query bug, never a dying JVM. */
  def timed(tag: String, name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    catch { case NonFatal(e) =>
      System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      -1.0
    }
  }

  /** [[timed]] over building `df` and draining every row into the noop
    * sink — full materialization with no driver-side collect. */
  def timedNoop(tag: String, name: String)(df: => DataFrame): Double =
    timed(tag, name)(df.write.format("noop").mode("overwrite").save())

  /** 1/5/15-minute system load average as a JSON array ("[0.39,0.14,0.30]").
    * Recorded before and after the timed region so a reader can
    * mechanically distinguish ambient-load drift from plan regressions
    * (a shared host's background load roams; past rounds have had to
    * adjudicate ±5% total drift from prose). */
  def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .trim.split("\\s+").take(3).mkString("[", ",", "]")
    catch { case NonFatal(_) => "[]" }
}
