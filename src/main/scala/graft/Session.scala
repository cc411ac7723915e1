package graft

import org.apache.spark.sql.SparkSession

/** One place to build a scale-tuned session. On a real cluster the
  * same settings apply with shuffle.partitions sized to ~2-3x total
  * cores; locally we match the thread count so no partition is
  * starved or wastefully tiny.
  */
object Session {
  /** Entries in Spark's JVM-wide compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf, default 100).
    * Analyst traffic re-runs the same queries in rotation, and graft's
    * working set is larger than 100 generated classes, so at the
    * default every warm pass recompiled nearly every class: 87 Janino
    * compiles and 0.96 s of codegen in one 3.89 s finance_mix pass
    * (perfbench, seed 7, 4 vCPUs).
    *
    * Working sets, counted as compiles with an unbounded cache: the
    * perfbench finance_mix run 147 sources (oracle dump pass included),
    * corpus_pipeline 139, and one pass over all 386 SparkEntry queries
    * at sf0.001 2,778. 4096 holds that whole sweep, so a second pass
    * compiles 76 sources instead of 5,742 (at 100) or 2,948 (at 1000).
    * Cost after that pass, measured after System.gc(): heap 264 MB and
    * Metaspace 206 MB, against 169 MB and 184 MB at the default.
    */
  val CodegenCacheEntries: Int = 4096

  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
