package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark's compiled-class cache is JVM-wide and holds 100 generated
  * classes by default, fewer than one rotation of the finance mix
  * needs, so at the default every warm pass recompiled nearly every
  * class. Session.local sizes the cache; this spec re-runs the mix and
  * checks that a warm cycle compiles nothing.
  */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSession._

  private val financeMix = Seq(
    "q_agg_pushdown", "q_metrics_summary", "q_ema",
    "q_pivot_wide", "q_asof_join", "q_risk_snapshot")

  private def cycle(): Unit = financeMix.foreach { name =>
    SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session's codegen cache is the size Session.local sets") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Session.CodegenCacheEntries.toString)
  }

  test("a warm cycle of the finance mix compiles no class") {
    // AQE numbers whole-stage codegen stages in the order their query
    // stages materialize, which varies from run to run in
    // q_risk_snapshot; the number is part of the generated class name,
    // so such a run compiles a new source that was never evicted.
    // Class names without the number leave only evictions to count.
    val key = "spark.sql.codegen.useIdInClassName"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      cycle(); cycle()
      val before = compiles
      cycle()
      assert(compiles - before === 0L,
        "generated classes were evicted and recompiled within one rotation")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
