package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-timeline diagnostic for registry operators: runs each named
  * query once after a warmup run with a listener recording every
  * completed stage's wall time, task count, input/shuffle volumes, and
  * callsite — the evidence row behind a "this op's floor is
  * checkpoint/sort/IO, not reducible compute" adjudication
  * (BENCH_REGISTRY.md). The per-op header splits the wall time into
  * `plan` (build + analysis through physical planning, driver-side) and
  * `exec` (the noop write: job submission through the last row). The
  * session is [[Bench]]'s, [[Harness.acceptance]].
  * Usage: runMain graft.StageProbe name...
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val profile = Harness.acceptance()
    val spark = Harness.session(profile)
    val sc = spark.sparkContext
    Q.cacheTables(spark, sfDir, profile.parts)

    final case class Row(id: Int, ms: Long, tasks: Int,
        inputMb: Double, shufReadMb: Double, shufWriteMb: Double, name: String)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b).getOrElse(-1L)
        val m = si.taskMetrics
        rows.add(Row(si.stageId, ms, si.numTasks,
          m.inputMetrics.bytesRead / 1e6,
          (m.shuffleReadMetrics.localBytesRead +
            m.shuffleReadMetrics.remoteBytesRead) / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          si.name.takeWhile(_ != '\n').take(90)))
      }
    }
    def probe(n: String): Unit = {
      rows.clear()
      ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.queryExecution.executedPlan
      val planMs = (System.nanoTime() - t0) / 1e6
      val execS = Harness.timedNoop("stageprobe", n)(df)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val rs = rows.asScala.toSeq.sortBy(_.id)
      val exec = if (execS < 0) "failed" else f"${execS * 1e3}%.1f ms"
      println(f"==== $n plan=$planMs%.1f ms exec=$exec stages=${rs.size} stage-ms-sum=${rs.map(_.ms).sum} ====")
      rs.foreach { r =>
        println(f"[stage] ${r.id}%4d ${r.ms}%6d ms tasks=${r.tasks}%3d in=${r.inputMb}%8.1fMB sr=${r.shufReadMb}%8.1fMB sw=${r.shufWriteMb}%8.1fMB  ${r.name}")
      }
    }
    args.foreach { n =>
      // warmup: JIT, codegen, file listing
      if (Harness.timedNoop("stageprobe", n)(SparkEntry.queries(n)(spark, sfDir)) < 0)
        println(s"==== $n failed ====")
      else probe(n)
    }
    spark.stop()
  }
}
