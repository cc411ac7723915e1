package perfbench

import org.apache.spark.sql.SparkSession

/** Turns the traced pass's spans into the per-layer metrics, the
  * exact-repeat shape counts and the per-op breakdown.
  */
object Layers {
  private def all(ops: Seq[Op]): Seq[(String, SpanStats)] = ops.flatMap(_.stats)
  private def sumL(ops: Seq[Op])(f: SpanStats => Long): Long = all(ops).map(x => f(x._2)).sum

  /** Time inside the op with no job running, in seconds. */
  def gapS(o: Op): Double = {
    val (w0, w1) = o.wallMs
    val iv = o.stats.flatMap(_._2.jobIntervals)
      .map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var busy = 0L; var end = w0
    iv.foreach { case (a, b) => if (b > end) { busy += b - math.max(a, end); end = b } }
    math.max(0L, (w1 - w0) - busy) / 1e3
  }

  private def phaseS(ops: Seq[Op], ph: String): Double =
    ops.flatMap(_.stats).filter(_._1 == ph).map(_._2.seconds).sum
  private def phaseL(ops: Seq[Op], ph: String)(f: SpanStats => Long): Long =
    ops.flatMap(_.stats).filter(_._1 == ph).map(x => f(x._2)).sum

  def summarize(ops: Seq[Op], jvm: Map[String, Any], stream: Map[String, Double]): Map[String, Any] = {
    val s = sumL(ops) _
    val nodes = s(_.planNodes)
    val sites = all(ops).flatMap(_._2.checkpointSites.keys).distinct.size
    Map(
      "tables.bytes_read" -> s(_.bytesRead), "tables.rows_read" -> s(_.rowsRead),
      "sparkentry.build_s" -> phaseS(ops, "build"), "sparkentry.build_jobs" -> phaseL(ops, "build")(_.jobs),
      "driver.analysis_s" -> s(_.analysisNs) / 1e9, "driver.optimization_s" -> s(_.optimizationNs) / 1e9,
      "driver.planning_s" -> s(_.planningNs) / 1e9, "driver.gap_s" -> ops.map(gapS).sum,
      "jobs.count" -> s(_.jobs), "jobs.stages" -> s(_.stages), "jobs.tasks" -> s(_.tasks),
      "jobs.run_s" -> s(_.jobRunMs) / 1e3, "tasks.cpu_s" -> s(_.cpuNs) / 1e9, "tasks.gc_s" -> s(_.gcMs) / 1e3,
      "tasks.failed" -> s(_.failedTasks), "shuffle.write_bytes" -> s(_.shuffleWrite),
      "shuffle.read_bytes" -> s(_.shuffleRead), "spill.bytes" -> s(_.spill),
      "operators.checkpoint_jobs" -> s(_.checkpointJobs), "operators.checkpoint_s" -> s(_.checkpointMs) / 1e3,
      "operators.checkpoint_sites" -> sites, "operators.pinned_bytes" -> s(_.pinnedBytes),
      "plans.wscg_fraction" -> (if (nodes > 0) s(_.wscgNodes).toDouble / nodes else 0.0),
      "plans.exchanges" -> s(_.exchanges),
      "write.s" -> phaseS(ops, "write"), "write.bytes" -> phaseL(ops, "write")(_.bytesWritten),
      "write.rows" -> phaseL(ops, "write")(_.rowsWritten),
      "streaming.add_batch_s" -> stream.getOrElse("add_batch_s", 0.0),
      "streaming.commit_s" -> stream.getOrElse("commit_s", 0.0),
      "streaming.wal_s" -> stream.getOrElse("wal_s", 0.0),
      "streaming.state_rows" -> stream.getOrElse("state_rows", 0.0),
      "streaming.state_bytes" -> stream.getOrElse("state_bytes", 0.0)) ++ jvm
  }

  /** Counts that must repeat exactly between two traced runs. */
  def shapes(ops: Seq[Op]): Map[String, Any] = ops.map { o =>
    val st = o.stats.map(_._2)
    val sites = st.flatMap(_.checkpointSites.toSeq).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    s"${o.name}" -> Map(
      "jobs" -> st.map(_.jobs).sum,
      "build_jobs" -> o.stats.filter(_._1 == "build").map(_._2.jobs).sum,
      "checkpoint_jobs" -> sites,
      "exchanges" -> st.map(_.exchanges).sum,
      "wscg_nodes" -> st.map(_.wscgNodes).sum,
      "plan_nodes" -> st.map(_.planNodes).sum)
  }.toMap

  def perOp(ops: Seq[Op]): Seq[Map[String, Any]] = ops.map { o =>
    val st = o.stats.map(_._2)
    Map("name" -> o.name, "seconds" -> o.seconds, "gap_s" -> gapS(o),
      "phases" -> o.stats.map { case (ph, x) => ph -> x.seconds }.toMap,
      "jobs" -> st.map(_.jobs).sum, "stages" -> st.map(_.stages).sum, "tasks" -> st.map(_.tasks).sum,
      "run_s" -> st.map(_.jobRunMs).sum / 1e3, "cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "analysis_s" -> st.map(_.analysisNs).sum / 1e9, "optimization_s" -> st.map(_.optimizationNs).sum / 1e9,
      "planning_s" -> st.map(_.planningNs).sum / 1e9, "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
      "pinned_bytes" -> st.map(_.pinnedBytes).sum, "ok" -> o.ok)
  }

  /** Tables layer: each fixture table the workload reads, scanned in
    * full through its graft.Tables loader to the noop sink; the
    * median of three rounds.
    */
  def tablesLoop(spark: SparkSession, tables: Seq[(String, String)]): Map[String, Any] = {
    if (tables.isEmpty) return Map("tables.scan_s" -> 0.0)
    def once(): Double = {
      val t0 = System.nanoTime()
      tables.foreach { case (dir, t) =>
        val df = if (t == "events") graft.Tables.events(spark, dir) else graft.Tables.load(spark, dir, t)
        df.write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Map("tables.scan_s" -> Seq.fill(3)(once()).sorted.apply(1))
  }
}
