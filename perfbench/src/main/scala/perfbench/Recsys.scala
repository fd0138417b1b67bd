package perfbench

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.operators.{Eval, Popularity, Recommend, Split}

/** `recsys_ref`: the reference recommender flow at its published ALS
  * configuration ([[Recsys.Published]]: rank 100, maxIter 3, regParam
  * 0.15, nonnegative, coldStart=drop, ALS seed 1234, k = 100) over
  * `Tables.ratings`. The configuration is passed to the program
  * explicitly, so a change to its defaults does not change the workload.
  *
  * One pass = six stage spans: `split` (seeded 80/20 interaction split,
  * the run seed salting the content hash, materialized as the reference
  * writes its split), `popularity` (top-100 by weighted score, then
  * global hit ratio and the reference per-user MAP on the test slice),
  * `als_fit` (a fresh fit every pass — no artifact memo), `rmse`
  * (predict + RMSE), `recommend` (top-100 for every user,
  * materialized) and `eval` (standard MAP@100).
  *
  * Checks (untimed), on the first timed pass: the split is complete and
  * equals the benchmark's own bucketing of the same hash; the model has
  * rank 100; the recommendations cover every train user with ranks
  * 1..100; RMSE, MAP@100, hit ratio and reference MAP agree with an
  * independent driver-side recomputation. After the loop, for every
  * pass (the warm one too): the four quality numbers equal the warm
  * pass's, and RMSE and MAP@100 agree with a reference model that the
  * benchmark fits itself in set-up, with MLlib's `ALS` at the published
  * configuration on its own copy of the split ([[reference]]).
  */
final class Recsys(ctx: Main.Ctx) extends Main.Workload {
  import Main.M
  import Recsys._
  val name = "recsys_ref"
  private val spark = ctx.spark
  private val t = ctx.tracer
  private val stages = Seq("split", "popularity", "als_fit", "rmse", "recommend", "eval")
  private val dir = ctx.sfDir("recsys-sf")
  private lazy val ratings = Tables.ratings(spark, dir)
  private var nRatings = 0L
  /** (op, quality) of every pass; the warm pass is op -1. */
  private val quality = scala.collection.mutable.ArrayBuffer.empty[(Int, Quality)]

  /** The benchmark's own split of the seed's ratings: train iff
    * pmod(xxhash64(seed, userId, movieId), 10) < 8.
    */
  private lazy val refLabeled = ratings.withColumn("__train",
    pmod(xxhash64(lit(ctx.seed), col("userId"), col("movieId")), lit(10)) < 8)
  private lazy val refSide: Map[(Long, Long), String] =
    refLabeled.select(col("userId"), col("movieId"), col("__train")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (if (r.getBoolean(2)) "train" else "test"))
      .toMap

  /** RMSE and MAP@k of the reference model. */
  private var ref = (Double.NaN, Double.NaN)

  def setup(): Unit = {
    nRatings = ratings.count()
    // fitted first, the reference model also warms the MLlib code paths
    // a pass runs (fit, transform, recommendForAllUsers)
    ref = reference()
    // the warm pass fails the run here only by throwing; its outputs are
    // checked after the loop with every other pass
    pass(-1, "warmup", check = false)
  }

  // the first timed pass still runs about 10% slower than the later
  // ones, so the median of three is a warm pass
  override def minOps: Int = 3

  def op(i: Int, request: String): Double = pass(i, request, check = i == 0)

  override def finish(): Unit = {
    val (rmseRef, mapRef) = ref
    val warm = quality.head._2
    quality.foreach { case (i, q) =>
      ctx.check(i, "quality.repeat", q == warm, s"$q vs the warm pass's $warm")
      ctx.check(i, "quality.reference",
        math.abs(q.rmse - rmseRef) <= RmseTol * rmseRef &&
          math.abs(q.map - mapRef) <= MapTol * mapRef,
        s"(rmse, map@$K) (${q.rmse}, ${q.map}) vs reference ($rmseRef, $mapRef)")
    }
  }

  private def pass(i: Int, request: String, check: Boolean): Double = {
    var labeled: DataFrame = null
    var recs: DataFrame = null
    var test: DataFrame = null
    var top: Array[Long] = null
    val model = t.span("pass", request) {
      val (train, te) = t.span("split", request) {
        val salted = ratings.withColumn("__h",
          xxhash64(lit(ctx.seed), col("userId"), col("movieId")))
        labeled = Split.labelByHash(salted, "__h", buckets = 10, trainUpTo = 8,
          valUpTo = 8, labelCol = "side").drop("__h")
          .persist(StorageLevel.MEMORY_AND_DISK)
        labeled.count()
        (labeled.filter(col("side") === "train").drop("side"),
          labeled.filter(col("side") === "test").drop("side"))
      }
      test = te
      val (hit, mapRef) = t.span("popularity", request) {
        top = Popularity.topMovies(train, 0.9, K).collect()
          .map(_.getAs[Any]("movieId").asInstanceOf[Number].longValue)
        val ranked = spark.createDataFrame(
          java.util.Arrays.asList(top.zipWithIndex.map { case (m, j) =>
            Row(m, (j + 1).toLong)
          }: _*),
          new org.apache.spark.sql.types.StructType()
            .add("movieId", "long").add("rank", "long"))
        (Eval.hitRatioGlobal(test, ranked).head().getDouble(0),
          Eval.referenceMapPerUser(test, ranked, K).head().getDouble(0))
      }
      val model = t.span("als_fit", request)(Recommend.train(train, Published))
      val rmse = t.span("rmse", request) {
        Eval.rmse(Recommend.predict(model, test)).head().getDouble(0)
      }
      recs = t.span("recommend", request) {
        val r = Recommend.recommendTopK(model, K).persist(StorageLevel.MEMORY_AND_DISK)
        r.count()
        r
      }
      val map = t.span("eval", request) {
        Eval.standardMapAtK(test, recs, K).head().getDouble(0)
      }
      quality += (i -> Quality(rmse, map, hit, mapRef))
      model
    }
    val wall = t.wallOf("pass", request)
    try if (check) checkPass(i, labeled, test, recs, top, model)
    finally { labeled.unpersist(); recs.unpersist() }
    wall
  }

  /** Checks one pass from three driver-side collects (the labeled split,
    * the held-out predictions, the recommendations), so checking adds no
    * more than a few small jobs to the run.
    */
  private def checkPass(i: Int, labeled: DataFrame, test: DataFrame,
      recs: DataFrame, top: Array[Long], model: ALSModel): Unit = {
    val rows = labeled.select(col("userId"), col("movieId"), col("side")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(2)))
    ctx.check(i, "split.complete", rows.length == nRatings,
      s"${rows.length} labeled rows vs $nRatings ratings")
    val wrong = rows.count { case (k, side) => !refSide.get(k).contains(side) }
    ctx.check(i, "split.reference", wrong == 0,
      s"$wrong rows on another side than pmod(xxhash64(seed, userId, movieId), 10) < 8 puts them")
    ctx.check(i, "model.rank", model.rank == Published.rank,
      s"model rank ${model.rank} vs ${Published.rank}")

    val ranked = recs.select(col("userId"), col("movieId"), col("rank")).collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2)))
      .groupBy(_._1).map { case (u, rs) => u -> rs.sortBy(_._3).map(r => (r._2, r._3)) }
    val trainUsers = rows.collect { case ((u, _), "train") => u }.toSet
    val bad = ranked.count { case (_, rs) => rs.map(_._2).toSeq != (1L to K) }
    val uncovered = trainUsers.count(u => !ranked.contains(u))
    ctx.check(i, "recs.cover", bad == 0 && uncovered == 0,
      s"$bad users without ranks 1..$K, $uncovered train users without recs")

    val q = quality.last._2
    val testRows = rows.collect { case (k, "test") => k }
    val rmseLocal = rmseOf(Recommend.predict(model, test))
    ctx.check(i, "rmse.recompute", math.abs(rmseLocal - q.rmse) <= 1e-6,
      s"Eval.rmse ${q.rmse} vs recomputed $rmseLocal")
    val mapLocal = mapOf(ranked, testRows)
    ctx.check(i, "map.recompute", math.abs(mapLocal - q.map) <= 1e-6,
      s"Eval.standardMapAtK ${q.map} vs recomputed $mapLocal")
    // the popularity metrics over the program's own top-100 (its ranking
    // is checked against the oracle by analytics_mix's q_pop_top100)
    val rankOf = top.zipWithIndex.map { case (m, j) => m -> (j + 1) }.toMap
    val hitLocal = testRows.count(k => rankOf.contains(k._2)).toDouble / testRows.length
    ctx.check(i, "hit.recompute", math.abs(hitLocal - q.hit) <= 1e-6,
      s"Eval.hitRatioGlobal ${q.hit} vs recomputed $hitLocal")
    val aps = testRows.groupBy(_._1).values.map { ks =>
      ks.map(k => rankOf.get(k._2).fold(0.0)(r => (1.0 + 1.0 / r) / K)).sum / ks.length
    }
    val mapRefLocal = aps.sum / aps.size
    ctx.check(i, "map_ref.recompute", math.abs(mapRefLocal - q.mapRef) <= 1e-6,
      s"Eval.referenceMapPerUser ${q.mapRef} vs recomputed $mapRefLocal")
  }

  /** RMSE and MAP@k of MLlib's `ALS` at the published configuration,
    * fitted on the benchmark's own split and scored on the driver: the
    * values every pass of the program must reproduce.
    */
  private def reference(): (Double, Double) = {
    val train = refLabeled.filter(col("__train")).drop("__train")
    val test = refLabeled.filter(!col("__train")).drop("__train")
    val model = new ALS()
      .setRank(Published.rank).setMaxIter(Published.maxIter)
      .setRegParam(Published.regParam).setNonnegative(Published.nonnegative)
      .setImplicitPrefs(Published.implicitPrefs)
      .setColdStartStrategy(Published.coldStartStrategy).setSeed(Published.seed)
      .setUserCol("userId").setItemCol("movieId").setRatingCol("rating")
      .fit(train)
    val ranked = model.recommendForAllUsers(K).collect().map { r =>
      r.getInt(0).toLong -> r.getSeq[Row](1).zipWithIndex
        .map { case (x, j) => (x.getInt(0).toLong, (j + 1).toLong) }.toArray
    }.toMap
    val testRows = test.select(col("userId"), col("movieId")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    (rmseOf(model.transform(test)), mapOf(ranked, testRows))
  }

  /** RMSE over the (rating, prediction) rows of `preds`, on the driver. */
  private def rmseOf(preds: DataFrame): Double = {
    val e = preds.select(col("rating"), col("prediction")).collect()
      .map(r => r.getFloat(1).toDouble - r.getDouble(0))
    math.sqrt(e.map(x => x * x).sum / e.length)
  }

  /** Standard MAP@k on the driver: per test user, the precision at each
    * hit's rank, summed, over min(|labels|, k).
    */
  private def mapOf(ranked: Map[Long, Array[(Long, Long)]],
      testRows: Array[(Long, Long)]): Double = {
    val labels = testRows.groupBy(_._1).map { case (u, ks) => u -> ks.map(_._2).toSet }
    val aps = labels.toSeq.map { case (u, ls) =>
      var hits = 0; var sum = 0.0
      ranked.getOrElse(u, Array.empty[(Long, Long)]).foreach { case (m, rank) =>
        if (ls(m)) { hits += 1; sum += hits.toDouble / rank }
      }
      sum / math.min(ls.size, K)
    }
    aps.sum / aps.size
  }

  def e2e(walls: Seq[Double]): Seq[(String, M)] = {
    val q = quality.last._2
    Seq(
      "recsys_s" -> M(Main.median(walls), "s"),
      "recsys_rmse" -> M(q.rmse, "rmse"),
      "recsys_map_at_100" -> M(q.map, "map"),
      "recsys_hit_ratio" -> M(q.hit, "ratio"))
  }

  def layers(tracedOps: Seq[Span]): Seq[(String, M)] = {
    val kids = tracedOps.map(p => t.children(p).map(s => s.name -> s).toMap)
    val perStage = stages.flatMap { st =>
      val ss = kids.flatMap(_.get(st))
      val wall = Seq(s"$st.wall_s" -> M(Main.median(ss.map(_.wallS)), "s"))
      if (Set("als_fit", "recommend", "eval")(st)) {
        val ls = ss.map(t.layers)
        wall ++ ls.headOption.toSeq.flatMap(_.toMap(s"$st.")).map(_._1).distinct
          .filterNot(_.endsWith("wall_s")).map { k =>
            k -> M(Main.median(ls.map(_.toMap(s"$st.").toMap.apply(k))),
              Units.of(k))
          }
      } else wall
    }
    val coverage = tracedOps.map(p => t.children(p).map(_.wallS).sum / p.wallS)
    val cov = if (coverage.isEmpty) Double.NaN else coverage.min
    ctx.check(-1, "trace.stage_coverage", cov >= 0.95,
      s"stage spans cover ${cov * 100}% of a pass")
    perStage ++ Seq(
      "pass.self_s" -> M(Main.median(tracedOps.map(t.selfS)), "s"),
      "pass.stage_coverage" -> M(cov, "ratio"))
  }
}

object Recsys {
  val K = 100
  /** The reference's published ALS configuration, every field named. */
  val Published: Recommend.AlsConfig = Recommend.AlsConfig(rank = 100, maxIter = 3,
    regParam = 0.15, nonnegative = true, implicitPrefs = false,
    coldStartStrategy = "drop", seed = 1234L, userCol = "userId",
    itemCol = "movieId", ratingCol = "rating")
  /** Agreement with the reference model, relative. Changing rank to 50
    * or 90, maxIter to 2 or 4, regParam to 0.1 or 0.2, or the block count
    * to 4 moved RMSE by 0.07–0.9% and MAP@100 by 0.8–33% (sf0.005, seeds
    * 101 and 102); the same configuration reproduced both bit for bit.
    */
  val RmseTol = 1e-4
  val MapTol = 1e-3

  /** RMSE, MAP@100, popularity hit ratio and reference MAP of one pass. */
  final case class Quality(rmse: Double, map: Double, hit: Double, mapRef: Double)
}

/** Unit of a layer metric, from its suffix. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else "count"
}
