package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed or traced op: a query, a pipeline stage or a micro-batch. */
final case class Op(name: String, pass: Int, seconds: Double, ok: Boolean, error: String,
                    stats: Seq[(String, SpanStats)], wallMs: (Long, Long))

/** A workload drives graft's public entry points in passes of a
  * fixed op list. `warmup` runs untimed work that brings the session
  * to steady state; `pass` runs one pass, logging every op through
  * `run`; `check` verifies the outputs on the same session.
  */
trait Workload {
  def itemsPerPass: Long
  def warmup(): Unit
  def pass(p: Int): Unit
  def check(): Seq[Check]
  /** Untimed work after the timed passes (e.g. recording outputs). */
  def finish(): Unit = ()
  /** Layer probes of the traced run beyond the workload's own pass;
    * returns their output checks.
    */
  def probe(): Seq[Check] = Nil
  /** (dir, table) pairs this workload scans, for the Tables layer loop. */
  def tables: Seq[(String, String)]
  def artifact: Map[String, Any] = Map.empty
}

final case class Check(name: String, ok: Boolean, detail: String)

/** One timed pass: wall seconds, rows read, RDD bytes stored, and
  * whether it was traced.
  */
final case class Pass(seconds: Double, rowsRead: Long, pinnedBytes: Long, traced: Boolean)

/** Harness JVM. run.py launches it; it writes one JSON result file.
  *
  *   --workload finance_mix|corpus_pipeline|stream_twins
  *   --fixture DIR [--corpus DIR] [--stream FILE] --work DIR
  *   --seed N --seconds S --trace 0|1 --spawn-ns EPOCH_NS --out FILE
  */
object Main {
  /** Whether each pass of a traced run after the first is traced:
    * off, on, on, off, so that a trend across passes (the JIT still
    * warming) weighs equally on both sides of the tracing overhead.
    */
  val OverheadOrder = Seq(false, true, true, false)
  /** Fewest timed passes of an untraced run. */
  val MinPasses = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (spark, build, register) = setup()
    val out = mutable.LinkedHashMap[String, Any]("setup" -> Map(
      "setup_s" -> (epochNs() - a("spawn-ns").toLong) / 1e9,
      "session.build_s" -> build, "session.register_s" -> register))
    try {
      out ++= run(spark, a)
      Json.write(a("out"), out.toMap)
      // run.py clears the temp dirs; a clean stop would only add time
      Runtime.getRuntime.halt(0)
    } finally spark.stop()
  }

  /** graft.Session.local, then functions and the as-of strategy
    * registered: (session, build seconds, register seconds).
    */
  private def setup(): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val spark = graft.Session.local()
    val t1 = System.nanoTime()
    graft.plans.GraftFunctions.register(spark)
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    (spark, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def run(spark: SparkSession, a: Map[String, String]): Map[String, Any] = {
    val rec = new Recorder(spark)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val ctx = new Ctx(spark, rec, a)
    val w: Workload = a("workload") match {
      case "finance_mix"     => new FinanceMix(ctx)
      case "corpus_pipeline" => new CorpusPipeline(ctx)
      case "stream_twins"    => new StreamTwins(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val tw = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - tw) / 1e9
    val res = mutable.LinkedHashMap[String, Any]("warmup_s" -> warmupS, "items_per_pass" -> w.itemsPerPass)

    def timedPass(p: Int): Pass = {
      rec.drain()
      val (r0, b0) = rec.total.synchronized((rec.total.rowsRead, rec.total.pinnedBytes))
      val s = System.nanoTime()
      w.pass(p)
      val d = (System.nanoTime() - s) / 1e9
      rec.drain()
      val (r1, b1) = rec.total.synchronized((rec.total.rowsRead, rec.total.pinnedBytes))
      Pass(d, r1 - r0, b1 - b0, rec.full)
    }
    val passes = mutable.ArrayBuffer.empty[Pass]
    var probeChecks = Seq.empty[Check]
    if (!traced) {
      // whole passes until the measured time reaches --seconds, so
      // every op of the fixed list carries the same weight; at least
      // MinPasses, so run.py's medians have a middle
      var p = 0
      while (ctx.morePasses && (p < MinPasses || passes.map(_.seconds).sum < seconds)) {
        passes += timedPass(p); p += 1
      }
    } else {
      // the traced pass is the pass the timed runs measure; then
      // untraced and traced passes in OverheadOrder, whose medians
      // give the tracing overhead
      def tracedPass(p: Int): Pass = { rec.full = true; try timedPass(p) finally rec.full = false }
      val g0 = Jvm.gcMs; val c0 = Jvm.codegenNs; val n0 = Jvm.codegenCompiles
      Jvm.resetPeak()
      passes += tracedPass(0)
      val jvm = Map("jvm.gc_s" -> (Jvm.gcMs - g0) / 1e3, "jvm.heap_peak_mb" -> Jvm.heapPeakBytes / 1048576.0,
        "driver.codegen_s" -> (Jvm.codegenNs - c0) / 1e9,
        "driver.codegen_compiles" -> (Jvm.codegenCompiles - n0))
      val tracedOps = ctx.ops.toSeq
      OverheadOrder.zipWithIndex.iterator.takeWhile(_ => ctx.morePasses).foreach { case (t, i) =>
        passes += (if (t) tracedPass(i + 1) else timedPass(i + 1))
      }
      probeChecks = w.probe()
      res("layers") = Layers.summarize(tracedOps, jvm, ctx.streamLayers) ++
        Layers.tablesLoop(spark, w.tables) ++ Kernels.loop(ctx.fixture, spark)
      res("shapes") = Layers.shapes(tracedOps)
      res("per_op") = Layers.perOp(tracedOps)
    }
    w.finish()
    val checks = w.check() ++ probeChecks
    res("passes") = passes.map(x => Map("seconds" -> x.seconds, "rows_read" -> x.rowsRead,
      "pinned_bytes" -> x.pinnedBytes, "traced" -> x.traced)).toSeq
    res("ops") = ctx.ops.map(o => Map("name" -> o.name, "pass" -> o.pass, "seconds" -> o.seconds,
      "ok" -> o.ok, "error" -> o.error)).toSeq
    res("checks") = checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))
    res ++= w.artifact
    res.toMap
  }
}

/** Shared per-run state handed to the workloads. */
final class Ctx(val spark: SparkSession, val rec: Recorder, a: Map[String, String]) {
  val fixture: String = a("fixture")
  val work: String = a("work")
  val seed: Long = a("seed").toLong
  val arg: Map[String, String] = a
  val ops = mutable.ArrayBuffer.empty[Op]
  @volatile var morePasses = true
  /** Streaming progress of the traced pass, by twin. */
  var streamLayers: Map[String, Double] = Map.empty

  /** Times one op made of spans (e.g. build, then execute); a throw
    * fails the op and the pass goes on.
    */
  def run(name: String, pass: Int)(phases: (String, () => Unit)*): Boolean = {
    val stats = mutable.ArrayBuffer.empty[(String, SpanStats)]
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err = try {
      phases.foreach { case (ph, f) => stats += ph -> rec.span(f())._2 }
      ""
    } catch {
      case e: Throwable => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
    val s = (System.nanoTime() - t0) / 1e9
    // warm-up ops (pass < 0) are run but not logged
    if (pass >= 0) ops += Op(name, pass, s, err.isEmpty, err, stats.toSeq, (w0, System.currentTimeMillis()))
    if (err.nonEmpty) System.err.println(s"[perfbench] $name failed: $err")
    err.isEmpty
  }
}
