package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The session profiles every `main` builds from, pinned from env maps,
  * and the codegen cache every session shares. Starts no session of its
  * own: `getOrCreate` would hand back [[SparkSpec]]'s. */
class HarnessSpec extends AnyFunSuite {
  import Harness._

  private def cpus(n: Int) = Map("SPARK_GRAFT_CPUS" -> n.toString)

  test("acceptance derives parts/shuffle from the cores, AQE off, 64MB broadcast") {
    for ((c, parts, shuffle) <- Seq((4, 8, 4), (8, 8, 4), (32, 32, 8))) {
      assert(acceptance(cpus(c)) == Profile(c, shuffle = shuffle, aqe = false,
        broadcast = Some("64MB"), parts = parts), s"cpus=$c")
    }
    assert(Harness.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
  }

  test("acceptance env overrides win over the derivation") {
    val p = acceptance(cpus(32) ++ Map("SPARK_GRAFT_BENCH_PARTS" -> "12",
      "SPARK_GRAFT_BENCH_SHUFFLE" -> " 3 ", "SPARK_GRAFT_AQE" -> "TRUE"))
    assert((p.parts, p.shuffle, p.aqe) == ((12, 3, true)))
  }

  test("a malformed env value falls back to the default") {
    val p = acceptance(cpus(32) ++ Map("SPARK_GRAFT_BENCH_PARTS" -> "lots",
      "SPARK_GRAFT_BENCH_SHUFFLE" -> "8.5", "SPARK_GRAFT_AQE" -> "yes"))
    assert((p.parts, p.shuffle, p.aqe) == ((32, 8, false)))
    val n = Runtime.getRuntime.availableProcessors
    assert(acceptance(Map("SPARK_GRAFT_CPUS" -> "all")).cores == n)
    assert(envDouble("X", 0.95, Map("X" -> "hot")) == 0.95)
  }

  test("pipebench, h2o and verify keep their callers' shapes") {
    assert(pipebench(cpus(32)) == Profile(32, shuffle = 32, aqe = true,
      broadcast = None, parts = 32))
    assert(pipebench(cpus(4)).shuffle == 32)
    assert(h2o(cpus(4)) == Profile(4, shuffle = 32, aqe = true,
      broadcast = Some("64MB"), parts = 32))
    for (c <- Seq(4, 32)) {
      val v = verify(cpus(c))
      assert((v.cores, v.shuffle, v.aqe, v.broadcast) == ((c, c, true, None)))
    }
  }

  test("the codegen cache size is one constant, read back from the session") {
    assert(CodegenCacheEntries == 4096)
    assert(SparkSpec.spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      CodegenCacheEntries.toString)
  }

  test("a second pass over perfbench's TPC-H queries compiles no class") {
    // iteration-major, as perfbench runs them: every class of the first
    // pass must still be cached when the second pass asks for it
    val qs = Seq("q1", "q2", "q6", "q11", "q15", "q16", "q18", "q21", "q22")
    def compiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      qs.foreach(q => SparkEntry.queries(q)(SparkSpec.spark, SparkSpec.sf).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = compiles()
    assert(compiles() == 0, s"the first pass compiled $first")
  }
}
