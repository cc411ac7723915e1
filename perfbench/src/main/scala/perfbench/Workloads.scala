package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** finance_mix: the paper's analyst traffic. A fixed list of ETL,
  * metrics, derived-series, pivot and join queries from
  * SparkEntry.queries, each built and run to the noop sink; the pass
  * order is shuffled by the seed. The warm-up's first pass writes every
  * query's output instead (coalesce(1), so row order survives) for
  * run.py's order-strict DuckDB compare: the check runs on the session
  * that is timed.
  */
final class FinanceMix(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val dir = ctx.fixture
  private val entries = graft.SparkEntry.queries
  val queries: Seq[String] = Seq(
    "q_agg_pushdown",    // ETL core
    "q_metrics_summary", // metrics engine
    "q_ema",             // derived series
    "q_pivot_wide", "q_asof_join", "q_risk_snapshot") // pivots, joins, fan-out
  private val rnd = new scala.util.Random(ctx.seed)
  def itemsPerPass: Long = queries.size
  def tables: Seq[(String, String)] = Seq("events", "lineitem").map(dir -> _)
  private var dumped: Seq[Check] = Nil

  private def one(q: String, pass: Int)(sink: DataFrame => Unit): Boolean = {
    var df: DataFrame = null
    ctx.run(q, pass)("build" -> (() => df = entries(q)(spark, dir)), "exec" -> (() => sink(df)))
  }
  /** The check pass, then two untimed noop passes: the noop plans
    * compile their own code, and after one noop pass the JIT is still
    * warming, which the timed passes must not pay.
    */
  def warmup(): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    Json.write(s"${ctx.work}/finance_oracles.json", queries.map(q => q -> oracles.getOrElse(q, "")).toMap)
    dumped = queries.map { q =>
      val ok = one(q, -1)(_.coalesce(1).write.mode("overwrite").parquet(s"${ctx.work}/finance_dumps/$q"))
      Check(q, ok, if (ok) "dumped" else "dump failed")
    }
    pass(-1); pass(-1)
  }
  def pass(p: Int): Unit = rnd.shuffle(queries).foreach(q => one(q, p)(_.write.format("noop").mode("overwrite").save()))
  def check(): Seq[Check] = dumped
}

/** corpus_pipeline: one batch pass of the curation pipeline over the
  * seeded documents replica, each stage persisted to parquet and read
  * back by the next (the stage graph of graft.Bench's pipeline
  * section). Every stage's row count and an order-free digest of the
  * final output are recorded after the timed passes.
  */
final class CorpusPipeline(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val in = ctx.arg("corpus")
  private val outRoot = s"${ctx.work}/corpus_out"
  private def rd(n: String): DataFrame = spark.read.parquet(s"$outRoot/$n")
  private def stages(in: String): Seq[(String, () => DataFrame)] = Seq(
    "clean" -> (() => graft.Tables.documents(spark, in)
      .select(col("doc_id"), expr("graft_clean_text(text)").as("text"), col("source"))),
    "gate" -> (() => {
      val cleaned = rd("clean")
      cleaned.join(graft.operators.TextAnalysis.qualityGate(cleaned)
        .filter(col("keep") === 1).select("doc_id"), Seq("doc_id"))
    }),
    "dedup" -> (() => {
      val gated = rd("gate")
      val reg = gated.filter(pmod(col("doc_id"), lit(4L)) === 0)
      val inc = gated.filter(pmod(col("doc_id"), lit(4L)) =!= 0)
      inc.join(graft.operators.Dedup.incrementalDedup(reg, inc)
        .filter(col("is_new") === 1).select("doc_id"), Seq("doc_id"))
    }),
    "mix" -> (() => graft.operators.Sampling.domainMix(rd("dedup"),
      Map("src0" -> 10, "src1" -> 25, "src2" -> 50, "src3" -> 75))),
    "pack" -> (() => graft.operators.TextAnalysis.packSequences(rd("mix"), 256)),
    "embed" -> (() => rd("mix").select(col("doc_id").as("vec_id"),
      expr("graft_fh_embed(text, 64)").as("embedding"))),
    "knn" -> (() => graft.operators.Similarity.knnCandidatePairs(rd("embed"))),
    "semdedup" -> (() => rd("mix").join(
      rd("knn").filter(col("cos") >= 0.92).select(col("vb").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")))
  val itemsPerPass: Long = graft.Tables.documents(spark, in).count()
  def tables: Seq[(String, String)] = Seq(in -> "documents")
  private var record = Map.empty[String, (Long, String)]

  private def one(p: Int, in: String): Unit = stages(in).foreach { case (n, build) =>
    var df: DataFrame = null
    ctx.run(n, p)(
      "build" -> (() => df = build()),
      "write" -> (() => df.write.mode("overwrite").parquet(s"$outRoot/$n")))
  }
  /** Two untraced passes pay class loading, codegen and most of the
    * JIT; after one, pass times still fell by a fifth per pass.
    */
  def warmup(): Unit = { one(-1, in); one(-1, in) }
  def pass(p: Int): Unit = one(p, in)

  /** Every stage's row count, and for the final output the sum of
    * every row's xxhash64 as an exact decimal: independent of
    * partitioning and row order.
    */
  override def finish(): Unit = record = stages(in).map { case (n, _) =>
    val df = rd(n)
    if (n != "semdedup") n -> (df.count(), "")
    else {
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
      n -> (r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse("null"))
    }
  }.toMap

  /** The curation user's other job, the stateful stream twins, as a
    * layer probe: one warm-up round and one measured round of the
    * stream_twins workload, which fills the streaming layer metrics,
    * then its batch-twin checks.
    */
  override def probe(): Seq[Check] = {
    val twins = new StreamTwins(ctx)
    twins.warmup()
    ctx.rec.full = true
    try twins.pass(-1) finally ctx.rec.full = false
    twins.check().map(c => c.copy(name = s"stream_probe.${c.name}"))
  }

  def check(): Seq[Check] = {
    val names = stages(in).map(_._1)
    val c = record.map { case (n, (rows, _)) => n -> rows }
    val monotone = Seq("clean" -> "gate", "gate" -> "dedup", "dedup" -> "mix", "mix" -> "semdedup")
      .forall { case (a, b) => c.getOrElse(b, -1L) <= c.getOrElse(a, -1L) }
    Seq(
      Check("clean_keeps_every_doc", c.get("clean").contains(itemsPerPass), s"${c.get("clean")} of $itemsPerPass"),
      Check("filters_only_shrink", monotone, names.map(n => s"$n=${c.getOrElse(n, -1L)}").mkString(" ")),
      Check("embed_one_per_mixed_doc", c.get("embed") == c.get("mix"), s"${c.get("embed")} vs ${c.get("mix")}"),
      Check("nonempty_output", c.getOrElse("semdedup", 0L) > 0, s"${c.get("semdedup")}"))
  }
  override def artifact: Map[String, Any] = Map("corpus_record" ->
    record.map { case (n, (r, d)) =>
      n -> (if (d.isEmpty) Map("rows" -> r) else Map("rows" -> r, "digest" -> d)) })
}

final case class VwEv(user_id: Long, ts: java.time.Instant, value: Double, props: String)
final case class DeEv(event_id: Long, ts: java.time.Instant)
final case class CmsIn(v: Long)
final case class Ev(seq: Long, event_id: Long, user_id: Long, ts: java.time.Instant, value: Double,
                    props: String, batch: Int)

/** stream_twins: the six stateful twins of graft.streaming.Streams,
  * each a running query fed fixed-size micro-batches through
  * MemoryStream. A pass is one round: the next micro-batch into each
  * twin, addData then processAllAvailable. The check compares each
  * twin's final sink with its batch twin over the events fed.
  */
final class StreamTwins(ctx: Ctx) extends Workload {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.StreamingQuery
  private val spark: SparkSession = ctx.spark
  import spark.implicits._
  private implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val events: Array[Ev] = spark.read.parquet(ctx.arg("stream"))
    .select(col("seq"), col("event_id"), col("user_id"), col("ts").cast("timestamp").as("ts"),
      col("value"), col("props"), col("batch"))
    .as[Ev].collect().sortBy(_.seq)
  private val batches: IndexedSeq[Array[Ev]] = events.groupBy(_.batch).toSeq.sortBy(_._1).map(_._2).toIndexedSeq
  def itemsPerPass: Long = batches.head.length.toLong * 6
  def tables: Seq[(String, String)] = Seq(ctx.fixture -> "events")

  private final class Twin(val name: String, val feed: Array[Ev] => Unit, val q: StreamingQuery)
  private var twins: Seq[Twin] = Nil
  private var fed = 0 // micro-batches fed to every twin

  private def start[T](name: String, mode: String, mem: MemoryStream[T], out: DataFrame,
                       mk: Ev => T): Twin = {
    val q = out.writeStream.format("memory").queryName(s"perfbench_$name").outputMode(mode).start()
    new Twin(name, ch => mem.addData(ch.toSeq.map(mk)), q)
  }
  private def sev(e: Ev) = Streams.SEv(e.user_id, e.ts, e.value)

  private def round(p: Int): Unit = {
    val ch = batches(fed)
    twins.foreach(t => ctx.run(t.name, p)("batch" -> (() => { t.feed(ch); t.q.processAllAvailable() })))
    fed += 1
    ctx.morePasses = fed < batches.size
  }

  def warmup(): Unit = {
    val mEma = MemoryStream[Streams.SEv]; val mSess = MemoryStream[Streams.SEv]
    val mVwap = MemoryStream[VwEv]; val mDedup = MemoryStream[DeEv]
    val mBloom = MemoryStream[Streams.KeyedEv]; val mCms = MemoryStream[CmsIn]
    twins = Seq(
      start("ema", "update", mEma, Streams.emaStream(mEma.toDS(), 20).toDF(), sev),
      start("sessionize", "append", mSess, Streams.sessionizeStream(mSess.toDS(), 30).toDF(), sev),
      start("vwap", "append", mVwap, Streams.vwapStream(mVwap.toDF()),
        (e: Ev) => VwEv(e.user_id, e.ts, e.value, e.props)),
      start("dedup", "append", mDedup, Streams.dedupStream(mDedup.toDF()), (e: Ev) => DeEv(e.event_id, e.ts)),
      start("bloom_dedup", "append", mBloom, Streams.bloomDedupStream(mBloom.toDS()).toDF(),
        (e: Ev) => Streams.KeyedEv(e.event_id.toString, e.ts, e.value)),
      start("cms", "complete", mCms, Streams.cmsStream(mCms.toDF(), "v"), (e: Ev) => CmsIn(e.user_id)))
    round(-1)
  }

  def pass(p: Int): Unit = {
    val last = twins.map(t => t.name -> Option(t.q.lastProgress).map(_.batchId).getOrElse(-1L)).toMap
    round(p)
    if (ctx.rec.full) {
      val prog = twins.flatMap(t => t.q.recentProgress.filter(_.batchId > last(t.name)))
      def dur(k: String): Double = prog.map(x => Option(x.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
      val ends = twins.flatMap(t => Option(t.q.lastProgress).toSeq.flatMap(_.stateOperators))
      ctx.streamLayers = Map(
        "add_batch_s" -> dur("addBatch"), "wal_s" -> dur("walCommit"),
        "commit_s" -> prog.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1e3,
        "state_rows" -> ends.map(_.numRowsTotal).sum.toDouble,
        "state_bytes" -> ends.map(_.memoryUsedBytes).sum.toDouble)
    }
  }

  private def diff(a: DataFrame, b: DataFrame): Long = a.exceptAll(b).count()

  def check(): Seq[Check] = {
    twins.foreach(_.q.stop())
    val prefix = batches.take(fed).flatten.toSeq
    val evDf = prefix.map(e => (e.event_id, e.user_id, java.sql.Timestamp.from(e.ts), e.value, e.props))
      .toDF("event_id", "user_id", "ts", "value", "props")
    val sevDs = prefix.map(sev).toDS()
    def sink(n: String): DataFrame = spark.table(s"perfbench_$n")
    def check(n: String)(f: => (Boolean, String)): Check =
      try { val (ok, d) = f; Check(n, ok, d) }
      catch { case e: Throwable => Check(n, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    Seq(
      check("ema") {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy(col("ts_us").desc)
        val got = sink("ema").withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select("user_id", "ts_us", "ema")
        val want = Streams.emaStream(sevDs, 20).toDF().select("user_id", "ts_us", "ema")
        val (a, b) = (diff(got, want), diff(want, got))
        (a == 0 && b == 0 && got.count() > 0, s"extra=$a missing=$b")
      },
      check("sessionize") {
        val cols = Seq("user_id", "start_us", "end_us", "n_events", "total_value").map(col)
        val got = sink("sessionize").select(cols: _*)
        val closedByLater = Streams.sessionizeStream(sevDs, 30).toDF().select(cols: _*)
        val all = Streams.sessionizeBatch(evDf).select(cols: _*)
        val (a, b) = (diff(closedByLater, got), diff(got, all))
        (a == 0 && b == 0 && got.count() > 0, s"missing_closed=$a not_in_batch=$b")
      },
      check("vwap") {
        val got = sink("vwap")
        val want = Streams.vwapStream(evDf)
        // windows the previous round's watermark (max ts - 1 h) closed
        val cutUs = batches.take(fed - 1).flatten.map(e => e.ts.toEpochMilli).max * 1000L -
          3600L * 1000000L - 86400L * 1000000L
        val closed = want.filter(unix_micros(col("bar_start")) <= cutUs)
        val (a, b) = (diff(got, want), diff(closed, got))
        (a == 0 && b == 0 && got.count() > 0, s"not_in_batch=$a missing_closed=$b")
      },
      check("dedup") {
        val got = sink("dedup").select("event_id")
        // dropDuplicatesWithinWatermark is streaming-only; its batch
        // twin is plain dropDuplicates on the same key
        val want = evDf.dropDuplicates("event_id").select("event_id")
        val (a, b) = (diff(got, want), diff(want, got))
        (a == 0 && b == 0, s"extra=$a missing=$b")
      },
      check("bloom_dedup") {
        val got = sink("bloom_dedup")
        val want = Streams.bloomDedupStream(prefix.map(e =>
          Streams.KeyedEv(e.event_id.toString, e.ts, e.value)).toDS()).toDF()
        val (a, b) = (diff(got, want), diff(want, got))
        (a == 0 && b == 0 && got.count() > 0, s"extra=$a missing=$b")
      },
      check("cms") {
        val got = sink("cms")
        val want = Streams.cmsStream(prefix.map(e => CmsIn(e.user_id)).toDF(), "v")
        val (a, b) = (diff(got, want), diff(want, got))
        (a == 0 && b == 0, s"extra=$a missing=$b")
      })
  }
  override def artifact: Map[String, Any] = Map("micro_batches_fed" -> fed,
    "batch_rows" -> batches.head.length)
}
