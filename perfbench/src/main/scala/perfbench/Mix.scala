package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

/** `analytics_mix`: five oracled registry lines plus the curation intake
  * ([[Intake]]). One round = every line once, always in the same order;
  * after the first timed round, one intake micro-batch runs as a span of
  * its own. `mix_s` (the gated `op_p50_s`) sums the per-line medians
  * over at least three rounds and leaves the batch out: batch times
  * spread 27% run to run on a 4-core VM (their cost is commits and
  * small-file writes), so the batch is reported beside it as
  * `intake_batch_p50_s`. Lines run in a fixed order because
  * a line's time depended on the line before it (cleanup of its
  * checkpoints and shuffles): seed-shuffled rounds spread 25%. The lines'
  * inputs are the fixed tables; the seed picks the intake's batches. An
  * untimed warm round fills the program's own memos (checkpointed edge
  * relations, ...), so rounds measure serving against them.
  *
  * Each line is timed as a `collect()` rather than a noop write so that
  * every timed output is checked (outputs are at most a few thousand
  * rows, so the transfer is a small share of a line): its row count and
  * order-insensitive checksum must equal the values in
  * `expected/mix.json`, which `record_mix.py` wrote after comparing every
  * row against the line's DuckDB oracle.
  */
final class Mix(ctx: Main.Ctx) extends Main.Workload {
  import Main.M
  val name = "analytics_mix"
  private val spark = ctx.spark
  private val t = ctx.tracer
  private val sf = ctx.args("mix-sf")
  private val dir = ctx.sfDir("mix-sf")
  private lazy val expected: Map[String, (Long, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(ctx.args("expected")))
    val node = Option(root.get(s"sf$sf")).getOrElse(
      throw new IllegalStateException(s"no expected values for sf$sf"))
    Mix.lines.map { l =>
      val e = Option(node.get(l)).getOrElse(
        throw new IllegalStateException(s"no expected values for $l at sf$sf"))
      l -> (e.get("rows").asLong, e.get("checksum").asText)
    }.toMap
  }
  private val intake = new Intake(ctx)
  /** wall seconds per line per round */
  private val lineWalls = scala.collection.mutable.Map.empty[String, Vector[Double]]
  private val batchWalls = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def verify(op: Int, line: String, rows: Array[Row]): Unit = {
    val (n, sum) = (rows.length.toLong, Mix.checksum(rows))
    val (en, esum) = expected(line)
    ctx.check(op, s"mix.$line", n == en && sum == esum,
      s"$n rows / checksum $sum vs recorded $en / $esum")
  }

  def setup(): Unit = {
    expected
    intake.setup()
    Mix.lines.foreach(l => verify(-1, l, SparkEntry.queries(l)(spark, dir).collect()))
    require(ctx.failures.isEmpty, s"warm round failed: ${ctx.failures.mkString("; ")}")
  }

  override def minOps: Int = 3

  def op(i: Int, request: String): Double = {
    val outputs = t.span("round", request) {
      Mix.lines.map { l =>
        val rows = t.span(l, request)(SparkEntry.queries(l)(spark, dir).collect())
        lineWalls(l) = lineWalls.getOrElse(l, Vector.empty) :+ t.wallOf(l, request)
        l -> rows
      }
    }
    // the batch is a span of its own, outside the round's wall time
    if (i == 0) batchWalls += intake.batch(request)
    outputs.foreach { case (l, rows) => verify(i, l, rows) }
    t.wallOf("round", request)
  }

  override def finish(): Unit = intake.finish()

  private def mixS: Double = Mix.lines.map(l => Main.median(lineWalls(l))).sum

  override def headline(walls: Seq[Double]): Double = mixS

  def e2e(walls: Seq[Double]): Seq[(String, M)] =
    ("mix_s" -> M(mixS, "s")) +:
      Mix.lines.map(l => s"mix_s.$l" -> M(Main.median(lineWalls(l)), "s")) ++:
      intake.e2e(batchWalls.toSeq)

  def layers(tracedOps: Seq[Span]): Seq[(String, M)] = {
    val lines = tracedOps.map(r => t.children(r).filter(s => Mix.lines.contains(s.name)))
    val perLine = Mix.lines.flatMap { l =>
      val ss = lines.flatten.filter(_.name == l)
      Seq(s"mix.$l.wall_s" -> M(Main.median(ss.map(_.wallS)), "s"),
        s"mix.$l.jobs" -> M(Main.median(ss.map(t.layers(_).jobs.toDouble)), "count"))
    }
    // section sums over the lines of a round, median over rounds
    def sum(f: Layers => Double) = Main.median(lines.map(_.map(s => f(t.layers(s))).sum))
    perLine ++ Seq(
      "mix.jobs" -> M(sum(_.jobs.toDouble), "count"),
      "mix.planning_s" -> M(sum(_.planningS), "s"),
      "mix.driver_gap_s" -> M(sum(_.driverGapS), "s"),
      "mix.task_s" -> M(sum(_.taskS), "s"),
      "mix.shuffle_mb" -> M(sum(_.shuffleMb), "MB"),
      "mix.input_mb" -> M(sum(_.inputMb), "MB"),
      "mix.gc_s" -> M(sum(_.gcS), "s")) ++
      intake.layers(t.spans.toSeq.filter(s => s.name == "batch" && t.isTraced(s)))
  }
}

object Mix {
  /** One line per family: scan + group-by, the popularity ranking over
    * the ratings join, a `Guarded.iterate` driver twin, the pinned k-hop
    * chain (two-thread checkpoint pins, 27 jobs), and the batch twin of
    * the intake gates.
    */
  val lines: Seq[String] = Seq(
    "q1_agg", "q_pop_top100", "q_pagerank", "q_khop", "q_corpus_pipeline_v3")

  /** Order-insensitive checksum: Σ over rows (mod 2^64) of the first
    * eight md5 bytes of the row's values, columns sorted by name.
    */
  def checksum(rows: Array[Row]): String = {
    val sum = rows.iterator.map { r =>
      val names = r.schema.fieldNames.sorted
      val s = names.map(n => Option(r.getAs[Any](n)).map(_.toString).getOrElse("\u0000"))
        .mkString("\u0001")
      java.nio.ByteBuffer.wrap(java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))).getLong
    }.foldLeft(0L)(_ + _)
    f"$sum%016x"
  }

  /** Writes each line's output (parquet), row count, checksum and oracle
    * SQL under `out`, for `record_mix.py` to compare against DuckDB.
    */
  def record(ctx: Main.Ctx, out: String): Unit = {
    val dir = ctx.sfDir("mix-sf")
    val entries = lines.map { l =>
      val df: DataFrame = SparkEntry.queries(l)(ctx.spark, dir)
      val rows = df.collect()
      df.write.mode("overwrite").parquet(s"$out/$l")
      l -> Map("rows" -> rows.length, "checksum" -> checksum(rows),
        "oracle_sql" -> SparkEntry.oracleSql(l))
    }
    Main.json.writeValue(new java.io.File(s"$out/record.json"), entries.toMap)
  }
}
