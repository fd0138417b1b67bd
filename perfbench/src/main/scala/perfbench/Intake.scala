package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.operators.{Artifacts, Dedup, TextAnalysis}
import graft.streaming.EventStreams

/** The curation intake that rides along in `analytics_mix`: the
  * `EventStreams.curationIntake` micro-batch loop, wired as
  * `graft.IntakeSoak` wires it (quality LR ≥ 0.2, BM25 ≥ 0 over four
  * query terms, 50-document contamination bench, length-histogram drift
  * alarm, per-source budgets far above the feed).
  *
  * Set-up fits the reference state once (`intake.fit`), seeds the dedup
  * index and starts the query (`intake.wire`), then feeds one untimed
  * warm batch. Each `batch` feeds the whole documents table re-keyed, in
  * a seed-chosen order and with a seed-chosen suffix, so every batch is
  * novel content, and waits for it to be processed: sink, ledger and
  * dedup index all grow every batch.
  *
  * Checks after the loop: the per-batch admitted counts equal the
  * sequence the batch twin of the same gates computes over the same
  * feed (filter → filter → exact dedup → decontaminate), and the index
  * holds the seed rows plus every admitted hash.
  */
final class Intake(ctx: Main.Ctx) {
  import Main.M
  private val spark = ctx.spark
  private val t = ctx.tracer
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val dir = ctx.sfDir("intake-sf")
  private val root = s"${ctx.work}/intake"
  private val indexDir = s"$root/index"
  private val sinkDir = s"$root/sink"
  private val ledgerDir = s"$root/ledger"
  private val tauQuality = 0.2
  private val tauRelevance = 0.0
  private val terms = Seq("query", "stream", "vector", "hash")

  private var quality: TextAnalysis.QualityLrModel = _
  private var bm25: TextAnalysis.Bm25Model = _
  private var bench: DataFrame = _
  private var base: Array[(Long, String, String)] = Array.empty
  private var mem: MemoryStream[EventStreams.SourcedDoc] = _
  private var query: StreamingQuery = _
  private val seedRows = 1L
  private val warmBatches = 1
  private var fed = 0
  private var fitS = 0.0
  private var wireS = 0.0
  private val tag = java.lang.Long.toHexString(
    new scala.util.Random(ctx.seed).nextLong() & 0xffffffffL)
  private val t0Epoch = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Batch `b` (the warm batches first): the base documents in a
    * seed-chosen order, re-keyed, suffixed, one hour after batch `b - 1`.
    */
  private def batchDocs(b: Int): Seq[EventStreams.SourcedDoc] = {
    val order = new scala.util.Random(ctx.seed * 1000003L + b).shuffle(base.indices.toVector)
    order.map { j =>
      val (id, src, text) = base(j)
      EventStreams.SourcedDoc(id + (b + 1).toLong * 100000000L,
        new java.sql.Timestamp(t0Epoch + b.toLong * 3600000L),
        src, s"$text copy $tag-$b")
    }
  }

  def setup(): Unit = {
    if (ctx.trace) spark.streams.addListener(t.streamListener)
    val docs0 = Tables.documents(spark, dir)
    val fit = t.span("intake.fit", "setup") {
      quality = TextAnalysis.fitQualityLr(docs0,
        TextAnalysis.qualityScore(col("text")) >= 0.77)
      bm25 = TextAnalysis.fitBm25(docs0, terms)
      val ref = TextAnalysis.fitLenHistogram(docs0)
      bench = docs0.orderBy(col("doc_id")).limit(50)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      ref
    }
    fitS = t.spans.last.wallS
    base = docs0.select(col("doc_id"), col("source"), col("text"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val sources = base.map(_._2).distinct
    val targets = Some(sources.map(s => s -> 100000000L).toMap)
    t.span("intake.wire", "setup") {
      Seq("__seed__").toDF("text").select(md5(col("text")).as("content_hash"))
        .write.parquet(indexDir)
      mem = MemoryStream[EventStreams.SourcedDoc]
      query = EventStreams.curationIntake(mem.toDF(), quality, tauQuality, bm25,
        tauRelevance, bench, fit, 0.5, targets, indexDir, sinkDir, ledgerDir).start()
    }
    wireS = t.spans.last.wallS
    (0 until warmBatches).foreach(feed)
  }

  private def feed(b: Int): Unit = {
    mem.addData(batchDocs(b): _*)
    fed += 1
    query.processAllAvailable()
  }

  /** Feeds the next batch; returns its wall seconds. */
  def batch(request: String): Double = {
    t.span("batch", request)(feed(fed))
    t.wallOf("batch", request)
  }

  private var admitted: Seq[Long] = Nil
  private var indexRows = 0L
  private var nBatches = 0

  def finish(): Unit = {
    query.stop()
    nBatches = fed
    admitted = spark.read.parquet(ledgerDir).orderBy(col("batch_id"))
      .select(col("n_admitted")).collect().map(_.getLong(0)).toSeq
    indexRows = spark.read.parquet(Artifacts.resolveLive(spark, indexDir)).count()
    val expected = twin(nBatches)
    (0 until nBatches).foreach { b =>
      ctx.check(math.max(-1, b - warmBatches), s"intake.admitted[$b]",
        admitted.lift(b).contains(expected(b)),
        s"admitted ${admitted.lift(b)} vs batch twin ${expected(b)}")
    }
    ctx.check(-1, "intake.batches", admitted.size == nBatches,
      s"${admitted.size} ledger rows for $nBatches batches")
    ctx.check(-1, "intake.index_rows", indexRows == seedRows + admitted.sum,
      s"index rows $indexRows vs $seedRows seed + ${admitted.sum} admitted")
  }

  /** Expected admitted count per batch from the batch operators composed
    * in the streaming gate order; every batch carries novel content, so
    * the index and the budget never remove a row.
    */
  private def twin(n: Int): Seq[Long] = {
    val feedDf = (0 until n).flatMap(b => batchDocs(b).map(d => (b, d.doc_id, d.text)))
      .toDF("b", "doc_id", "text")
    val gated = feedDf
      .filter(TextAnalysis.qualityLrScore(quality)(col("text")) >= tauQuality)
      .filter(TextAnalysis.bm25Score(bm25)(col("text")) >= tauRelevance)
      .withColumn("content_hash", md5(col("text")))
    val (grams, _) = TextAnalysis.benchGramSet(bench, 5)
    val contaminated = gated
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), 5)).as("g"))
      .join(broadcast(grams), Seq("g")).select(col("doc_id")).distinct()
    val counts = gated.join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy(col("b")).agg(countDistinct(col("content_hash")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until n).map(b => counts.getOrElse(b, 0L))
  }

  def e2e(walls: Seq[Double]): Seq[(String, M)] = Seq(
    "intake_batch_p50_s" -> M(Main.median(walls), "s"),
    "intake_docs_per_s" -> M(base.length * walls.size / walls.sum, "docs/s"))

  /** `tracedOps`: the traced batch spans. */
  def layers(tracedOps: Seq[Span]): Seq[(String, M)] = {
    t.drain()
    // progress events of the timed batches (skipping watermark-only
    // ticks and the warm batches)
    val prog = scala.jdk.CollectionConverters.IteratorHasAsScala(t.progress.iterator())
      .asScala.toSeq.filter(_.inputRows > 0).sortBy(_.batchId).drop(warmBatches)
    val tracedIdx = tracedOps.map(s => s.request.split("-").last.toInt).toSet
    val tp = prog.zipWithIndex.collect { case (p, j) if tracedIdx(j) => p }
    def d(k: String*) = Main.median(tp.map(p => k.map(p.durationMs.getOrElse(_, 0L)).sum / 1e3))
    val ls = tracedOps.map(t.layers)
    Seq(
      "intake.fit_s" -> M(fitS, "s"),
      "intake.wire_s" -> M(wireS, "s"),
      "intake.add_batch_s" -> M(d("addBatch"), "s"),
      "intake.query_planning_s" -> M(d("queryPlanning"), "s"),
      "intake.commit_s" -> M(d("walCommit", "commitOffsets"), "s"),
      "intake.jobs_per_batch" -> M(Main.median(ls.map(_.jobs.toDouble)), "count"),
      "intake.task_s_per_batch" -> M(Main.median(ls.map(_.taskS)), "s"),
      "intake.output_mb_per_batch" -> M(Main.median(ls.map(_.outputMb)), "MB"),
      "intake.state_rows" -> M(prog.lastOption.map(_.stateRows.toDouble)
        .getOrElse(Double.NaN), "count"),
      "intake.index_rows" -> M(indexRows.toDouble, "count"))
  }
}
