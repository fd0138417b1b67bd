package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one closed-loop workload per process.
  *
  * {{{
  * perfbench.Main --workload recsys_ref|analytics_mix
  *   --seed N --seconds S --trace 0|1 --data DIR --work DIR --cpus C
  *   --recsys-sf SF | --mix-sf SF --intake-sf SF
  *   --expected FILE
  * perfbench.Main --record OUT --data DIR --work DIR --cpus C --mix-sf SF
  * }}}
  *
  * Set-up (session, table touch, fits, a checked warm operation) runs
  * first; then operations run one at a time until `--seconds` have
  * passed and at least the workload's `minOps` completed: the first
  * operation after a single warm one still runs up to 40% slower, so
  * every metric is a median over at least two. Each operation's outputs
  * are checked. The last stdout line is `PERFBENCH_RESULT {json}`.
  */
object Main {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String, default: String): String = kv.getOrElse(k, default)
  }

  /** Shared state of one run. */
  final class Ctx(val spark: SparkSession, val tracer: Tracer, val args: Args,
      val cpus: Int) {
    val seed: Long = args.get("seed", "1").toLong
    val data: String = args("data")
    val work: String = args("work")
    val trace: Boolean = args.get("trace", "0") == "1"
    def sfDir(key: String): String = s"$data/sf${args(key)}"
    /** (op index, message) of every failed check; -1 = set-up. */
    val failures = mutable.ArrayBuffer.empty[(Int, String)]
    var checksRun = 0
    def check(op: Int, name: String, ok: Boolean, detail: => String): Boolean = {
      checksRun += 1
      if (!ok) {
        val msg = s"$name: $detail"
        failures += (op -> msg)
        System.err.println(s"[perfbench] CHECK FAILED (op $op) $msg")
      }
      ok
    }
  }

  /** A metric as printed: value and unit. */
  final case class M(value: Double, unit: String)

  /** One closed-loop workload. `op` returns the timed wall seconds of
    * operation `i` (checks run after the timed region).
    */
  trait Workload {
    def name: String
    def setup(): Unit
    def op(i: Int, request: String): Double
    /** Deferred checks after the loop. */
    def finish(): Unit = ()
    /** Workload-named end-to-end metrics (beyond the generic ones). */
    def e2e(walls: Seq[Double]): Seq[(String, M)]
    /** Workload-named per-layer metrics from the traced operations. */
    def layers(tracedOps: Seq[Span]): Seq[(String, M)]
    /** Timed operations every run makes, whatever `--seconds` says. */
    def minOps: Int = 2
    /** The headline operation time: what `op_p50_s` reports. */
    def headline(walls: Seq[Double]): Double = median(walls)
  }

  /** Writes the result line and the record file; Scala maps, sequences
    * and options map to JSON objects, arrays and null.
    */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A measured value as written: NaN or infinite (not measured) is null. */
  def num(x: Double): Option[Double] = Some(x).filter(v => !v.isNaN && !v.isInfinite)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_.head.startsWith("--")),
      s"arguments must be --key value pairs: ${argv.mkString(" ")}")
    Args(argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    }
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = args("cpus").toInt
    val work = args("work")
    val spark = session(cpus, work)
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, args, cpus)
    val code =
      try {
        if (args.kv.contains("record")) { Mix.record(ctx, args("record")); 0 }
        else run(ctx)
      } finally spark.stop()
    System.exit(code)
  }

  def run(ctx: Ctx): Int = {
    val args = ctx.args
    val w: Workload = args("workload") match {
      case "recsys_ref" => new Recsys(ctx)
      case "analytics_mix" => new Mix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val seconds = args("seconds").toDouble
    // set-up failures propagate: a broken warm operation fails the run
    w.setup()
    val setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val walls = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val opSpans = mutable.ArrayBuffer.empty[Span]
    val loopT0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - loopT0) / 1e9
    while (i < w.minOps || elapsed < seconds) {
      // traced runs alternate traced and untraced operations so the
      // tracer's own cost is measured in the same process
      val traced = ctx.trace && i % 2 == 0
      ctx.tracer.setActive(traced)
      val nSpans = ctx.tracer.spans.size
      val wall =
        try w.op(i, s"${w.name}-$i")
        catch { case e: Exception =>
          ctx.check(i, s"op $i", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          Double.NaN
        }
      ctx.tracer.setActive(false)
      walls += (wall -> traced)
      ctx.tracer.spans.drop(nSpans).find(_.parent == -1).foreach(opSpans += _)
      i += 1
    }
    w.finish()
    val attempted = i
    val okWalls = walls.collect { case (x, _) if !x.isNaN => x }.toSeq

    // a set-up failure (op -1) counts against one operation
    def failed = math.min(attempted,
      ctx.failures.map(_._1).filter(_ >= 0).distinct.size + ctx.failures.count(_._1 < 0))

    val e2e = Seq(
      "op_p50_s" -> M(w.headline(okWalls), "s"),
      "setup_s" -> M(setupS, "s"),
      "peak_rss_mb" -> M(peakRssMb(), "MB"),
      "failed_ratio" -> M(failed.toDouble / attempted, "ratio")) ++
      w.e2e(okWalls)

    val layers: Seq[(String, M)] =
      if (!ctx.trace) Nil
      else {
        val tracedSpans = opSpans.filter(ctx.tracer.isTraced).toSeq
        val ls = tracedSpans.map(ctx.tracer.layers)
        def med(f: Layers => Double) = median(ls.map(f))
        val tw = walls.collect { case (x, true) if !x.isNaN => x }.toSeq
        val uw = walls.collect { case (x, false) if !x.isNaN => x }.toSeq
        Seq(
          "wall_s" -> M(med(_.wallS), "s"),
          "planning_s" -> M(med(_.planningS), "s"),
          "jobs" -> M(med(_.jobs.toDouble), "count"),
          "tasks" -> M(med(_.tasks.toDouble), "count"),
          "task_s" -> M(med(_.taskS), "s"),
          "shuffle_mb" -> M(med(_.shuffleMb), "MB"),
          "input_mb" -> M(med(_.inputMb), "MB"),
          "output_mb" -> M(med(_.outputMb), "MB"),
          "driver_gap_s" -> M(med(_.driverGapS), "s"),
          "gc_s" -> M(med(_.gcS), "s"),
          "heap_peak_mb" -> M(heapPeakMb(), "MB"),
          "trace_overhead" -> M(
            if (uw.isEmpty) Double.NaN else median(tw) / median(uw), "ratio")) ++
          w.layers(tracedSpans)
      }

    val prov = ListMap(
      "workload" -> w.name, "seed" -> ctx.seed, "nproc" -> ctx.cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "spark_version" -> ctx.spark.version,
      "java_version" -> System.getProperty("java.version"),
      "sf_dirs" -> Seq("recsys-sf", "intake-sf", "mix-sf")
        .flatMap(k => ctx.args.kv.get(k).map(v => k -> v)).toMap,
      "ops_attempted" -> attempted,
      "traced_ops" -> walls.zipWithIndex.collect { case ((_, true), j) => j }.toSeq,
      "seconds" -> ctx.args("seconds"))
    def metrics(ms: Seq[(String, M)]) = ListMap.from(ms.map { case (k, m) =>
      k -> ListMap("value" -> num(m.value), "unit" -> m.unit) })
    val result = json.writeValueAsString(ListMap(
      "workload" -> w.name,
      "trace" -> ctx.trace,
      "correct" -> ctx.failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> ctx.failures.map { case (o, m) => s"op $o: $m" }.toSeq,
      "checks_run" -> ctx.checksRun,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers),
      "ops" -> walls.zipWithIndex.map { case ((x, t), j) =>
        ListMap("op" -> j, "wall_s" -> num(x), "traced" -> t) }.toSeq,
      "spans" -> (if (ctx.trace) ctx.tracer.spanRecords else Nil),
      "provenance" -> prov))
    println("PERFBENCH_RESULT " + result)
    if (ctx.failures.isEmpty) 0 else 1
  }
}
