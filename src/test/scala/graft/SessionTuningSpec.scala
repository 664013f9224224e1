package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The engine's session settings ([[SessionTuning]]), which every spec
  * session is built with.
  */
class SessionTuningSpec extends SparkSpec {

  test("a new session compiles no class another session already compiled") {
    def run(s: SparkSession): Unit = {
      s.range(0, 1000, 1, 2)
        .selectExpr("id % 7 AS k", "id * 3 AS v")
        .groupBy("k").sum("v")
        .collect()
      ()
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = compiles.getCount
    run(spark)
    assert(compiles.getCount > c0, "precondition: the query compiles classes")
    val c1 = compiles.getCount
    val fresh = spark.newSession()
    run(fresh)
    run(fresh)
    assert(compiles.getCount == c1,
      s"a new session recompiled ${compiles.getCount - c1} classes " +
        "(the codegen cache is keyed by class loader and source)")
  }
}
