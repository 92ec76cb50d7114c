package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's default test execution). */
object SparkSpec {
  val sf: String = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = Harness.session(Harness.Profile(
    cores = 8, shuffle = 8, aqe = true, broadcast = None, parts = 8))

  /** Call sites of the jobs started while `body` runs. */
  def jobsDuring(s: SparkSession)(body: => Unit): Seq[String] = {
    val sc = s.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.sortBy(_.stageId).lastOption
          .fold(s"job ${e.jobId}")(_.name))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.toArray(Array.empty[String]).toSeq
  }
}

/** Driver contract: entry() produces rows; every registered query runs and
  * every oracle entry points at a registered query. */
class EntrySpec extends AnyFunSuite {
  import SparkSpec._

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("every query runs at sf0.001 and yields a schema") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val df = fn(spark, sf)
          assert(df.schema.nonEmpty)
          df.count() // force execution
          None
        } catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
