package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

/** One registration path for the sf tables: [[Q.registerAll]] and
  * [[Q.cacheTables]] register a dir once, and every later [[Q.t]] on it
  * resolves a view, so building a query runs no Spark job. */
class TableRegistrationSpec extends AnyFunSuite {
  import SparkSpec._

  /** A fresh session keeps the views and the registration marker out of
    * the shared one. The cache manager is shared across sessions, so the
    * cached tables are dropped again afterwards. */
  private def withSession(f: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    try f(s)
    finally Q.tableNames.filter(s.catalog.tableExists)
      .foreach(s.catalog.uncacheTable)
  }

  /** Every TPC-H query. */
  private val lazyBuilds = SparkEntry.queries.toSeq
    .filter { case (n, _) => Tpch.queries.contains(n) }
    .sortBy(_._1)

  private def assertBuildsRunNoJob(s: SparkSession): Unit = {
    assert(lazyBuilds.size == Tpch.queries.size)
    val fired = lazyBuilds.flatMap { case (n, fn) =>
      val jobs = jobsDuring(s)(fn(s, sf))
      if (jobs.isEmpty) None else Some(s"$n: ${jobs.mkString(", ")}")
    }
    assert(fired.isEmpty, fired.mkString("\n"))
  }

  test("registerAll infers schemas once; building a query runs no job") {
    withSession { s =>
      assert(jobsDuring(s)(Q.registerAll(s, sf)).nonEmpty)
      assert(jobsDuring(s)(Q.registerAll(s, sf)).isEmpty)
      assertBuildsRunNoJob(s)
    }
  }

  test("cacheTables registers the dir; building a query runs no job") {
    withSession { s =>
      Q.cacheTables(s, sf, 8)
      assertBuildsRunNoJob(s)
    }
  }

  test("registerAll after cacheTables keeps the cached views") {
    def onCache(df: DataFrame): Boolean =
      df.queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r }.nonEmpty
    withSession { s =>
      Q.cacheTables(s, sf, 8)
      val params = Ops.sqlParams(s, sf) // calls registerAll on the same dir
      assert(onCache(params), params.queryExecution.withCachedData)
      val li = Q.t(s, sf, "lineitem")
      assert(onCache(li), li.queryExecution.withCachedData)
    }
  }
}
