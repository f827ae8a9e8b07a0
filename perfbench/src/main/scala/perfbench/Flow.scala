package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.feature.Bucketizer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.bronze.CsvEnvelopeLoader
import graft.features.{CategorifyEstimator, FeaturePipeline, ZScoreEstimator}
import graft.models.StarDag
import graft.rank.{Cooccur, Interactions, RankingEval, RetrievalPipeline, TwoTower}
import graft.serve.RecsTable

/** The reference flow driven through the engine's public functions, one
  * timed span per layer, plus the closed-loop serve of its two rankers.
  *
  * The process is a library client: it calls graft.bronze / models /
  * features / rank / serve and times the calls from outside. Every layer
  * writes its output where the reference hands data on (bronze parquet,
  * the dbt `final_pull` table, the feature hand-off parquet, the fitted
  * models, the cached predictions, the recs table), so a span holds its own
  * work and not work deferred into a later layer.
  *
  * It writes raw samples (refresh walls, per-request latencies, spans, job
  * records, check failures) as JSON; `run.py` turns them into metrics.
  */
object Flow {

  val K = 10
  /** Model-feed time splits (epoch µs): train < 2001-01-01 <= valid <
    * 2001-04-01 <= test. The held-out window for recall/NDCG is `test`. */
  val ValidStartUs = 978307200000000L
  val TestStartUs = 986083200000000L
  val EtlTimestamp = 1700000000L

  val Sources: Seq[(String, StructType)] = Seq(
    "transactions" -> StarDag.txSchema, "articles" -> StarDag.articleSchema,
    "customers" -> StarDag.customerSchema, "images" -> StarDag.imageSchema)

  /** The two-point grid: the serve-model schedule the engine's bench uses
    * (TwoTower at dim 16, 12 steps folded 6 per job) at two learning
    * rates. */
  val Grid: Seq[TwoTower.Config] = Seq(0.1, 0.05).map(lr => TwoTower.Config(
    embDim = 16, hiddenDim = 8, steps = 12, batchRows = 4096, lr = lr,
    seed = "tt8", stepsPerJob = 6))
  val RecentN = 12
  /** The two rankers; the recs table ships the two-tower one, as the
    * reference does. */
  val Rankers: Seq[String] = Seq("cooccur", "twotower")

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def dbl(k: String): Double = apply(k).toDouble
  }

  def parse(args: Array[String]): Opts =
    Opts(args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  final class Refresh(val wallNs: Long, val dir: String,
      val quality: Map[String, (Double, Double)], val failedStages: Seq[String])

  final case class Request(ranker: String, ids: Array[Long])

  final case class Served(ranker: String, latencyNs: Long, ok: Boolean, traced: Boolean)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val cpus = o.int("cpus")
    val work = o("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val flow = new Flow(spark, o("data"), work, o("batch"))
    val trace = o.int("trace") == 1
    val listener = if (trace) Some(new JobTrace) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    // timed refreshes: one, and more while refresh-seconds lasts
    val refreshes = ArrayBuffer.empty[Refresh]
    val rStart = System.nanoTime()
    while (refreshes.isEmpty ||
        (System.nanoTime() - rStart) / 1e9 + refreshes.map(_.wallNs).max / 1e9 <
          o.dbl("refresh-seconds")) {
      refreshes += flow.refresh(refreshes.size)
    }
    // serve set-up: load the last refresh's models, then warm-up requests
    val serveWarm = System.nanoTime()
    val server = new Server(flow, refreshes.last, readRequests(o("requests")))
    server.warmup(o.int("serve-warmup"))
    val serveWarmS = (System.nanoTime() - serveWarm) / 1e9
    // in a traced run every other request runs untraced: the control half
    // of the tracing-overhead measurement
    val (served, serveWallNs) = server.loop(o.dbl("serve-seconds"), o.int("serve-min"),
      o.int("pass"), traced = n => !trace || n % 2 == 0)
    listener.foreach(_ => org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext))
    val rss = peakRssKb()
    spark.stop()

    val out = new PrintWriter(o("out"))
    try out.print(Json.obj(
      "session_s" -> Json.num(sessionS),
      "serve_warmup_s" -> Json.num(serveWarmS),
      "peak_rss_kb" -> Json.num(rss.toDouble),
      "refreshes" -> Json.arr(refreshes.toSeq.map(r => Json.obj(
        "wall_s" -> Json.num(r.wallNs / 1e9),
        "final_pull" -> Json.str(s"${r.dir}/final_pull"),
        "metrics" -> Json.obj(r.quality.toSeq.sortBy(_._1).map { case (k, (rc, nd)) =>
          k -> Json.obj("recall" -> Json.num(rc), "ndcg" -> Json.num(nd)) }: _*),
        "failed_stages" -> Json.arr(r.failedStages.map(Json.str))))),
      "serve_wall_s" -> Json.num(serveWallNs / 1e9),
      "requests" -> Json.arr(served.map(s => Json.obj(
        "ranker" -> Json.str(s.ranker), "latency_ms" -> Json.num(s.latencyNs / 1e6),
        "ok" -> Json.bool(s.ok), "traced" -> Json.bool(s.traced)))),
      "spans" -> Json.arr(flow.spans.all.map(s => Json.obj(
        "layer" -> Json.str(s.layer), "group" -> Json.str(s.group),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "wall_s" -> Json.num(s.wallNs / 1e9)))),
      "jobs" -> Json.arr(listener.toSeq.flatMap(_.records).filter(_.endMs >= 0).map(j =>
        Json.obj("group" -> Json.str(Option(j.group).getOrElse("")),
          "start_ms" -> Json.num(j.startMs), "end_ms" -> Json.num(j.endMs),
          "tasks" -> Json.num(j.tasks), "cpu_s" -> Json.num(j.cpuNs / 1e9),
          "gc_s" -> Json.num(j.gcMs / 1e3),
          "shuffle_write_bytes" -> Json.num(j.shuffleWriteBytes),
          "spill_bytes" -> Json.num(j.spillBytes))))
    ))
    finally out.close()
  }

  def readRequests(path: String): IndexedSeq[Request] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq.filter(_.nonEmpty).map { l =>
      val Array(r, ids) = l.split("\t")
      Request(r, ids.split(",").map(_.toLong))
    }

  /** VmHWM of this process in kB (peak resident set). */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

/** One refresh of the reference flow over the CSV sources under `data`. */
final class Flow(val spark: SparkSession, data: String, work: String, etlId: String) {
  import Flow._

  val spans = new Spans

  /** Run `body` as layer `layer` of operation `op`: the Spark job group
    * `layer/op` is set on the calling thread (and inherited by the threads
    * the call starts), and the call's wall is recorded as a span. */
  def span[T](layer: String, op: String, traced: Boolean = true)(body: => T): T = {
    val sc = spark.sparkContext
    val group = (if (traced) "" else JobTrace.Untraced) + s"$layer/$op"
    sc.setJobGroup(group, layer)
    val ms = System.currentTimeMillis()
    val ns = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - ns
      spans.add(Span(layer, group, ms, System.currentTimeMillis(), wall))
      sc.clearJobGroup()
    }
  }

  val featurePipeline: Pipeline = new Pipeline().setStages(Array[PipelineStage](
    new CategorifyEstimator().setInputCols(Array("brand", "ptype", "mktsegment")),
    new Bucketizer().setInputCol("acctbal").setOutputCol("acctbal_bucket")
      .setSplits(Array(Double.NegativeInfinity, 0.0, 2500.0, 5000.0, 7500.0,
        Double.PositiveInfinity)),
    new ZScoreEstimator().setInputCol("price").setOutputCol("price_z")))

  /** The model feed: final_pull renamed to (user_id, item_id, ts). */
  def interactions(dir: String): DataFrame =
    spark.read.parquet(s"$dir/final_pull").select(col("customer_id").as("user_id"),
      col("article_id").as("item_id"), timestamp_micros(col("t_dat_us")).as("ts"))

  def train(inter: DataFrame): DataFrame = inter.filter(col("ts") < timestamp_micros(lit(ValidStartUs)))
  def valid(inter: DataFrame): DataFrame = inter.filter(col("ts") >= timestamp_micros(lit(ValidStartUs)) &&
    col("ts") < timestamp_micros(lit(TestStartUs)))
  def test(inter: DataFrame): DataFrame = inter.filter(col("ts") >= timestamp_micros(lit(TestStartUs)))

  def refresh(index: Int): Flow.Refresh = {
    val op = s"r$index"
    val dir = s"$work/refresh-$op"
    val failed = ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    span("bronze", op) {
      Sources.foreach { case (name, schema) =>
        CsvEnvelopeLoader.loadBatch(
          CsvEnvelopeLoader.readCsv(spark, s"$data/csv/$name", schema),
          name, EtlTimestamp, etlId, s"$dir/bronze")
      }
    }
    span("models", op) {
      def stg(name: String, schema: StructType) =
        StarDag.staging(CsvEnvelopeLoader.readBronze(spark, s"$dir/bronze", name), schema)
      StarDag.runFromStaged(stg("transactions", StarDag.txSchema),
          stg("articles", StarDag.articleSchema), stg("customers", StarDag.customerSchema),
          stg("images", StarDag.imageSchema))
        .write.parquet(s"$dir/final_pull")
    }
    span("features", op) {
      val pull = spark.read.parquet(s"$dir/final_pull")
      val t = col("t_dat_us")
      val splits = Seq(pull.filter(t < ValidStartUs),
        pull.filter(t >= ValidStartUs && t < TestStartUs), pull.filter(t >= TestStartUs))
      val (_, outs) = FeaturePipeline.fitOnUnion(featurePipeline, splits)
      outs.zip(Seq("train", "valid", "test")).foreach { case (df, n) =>
        df.write.parquet(s"$dir/features/$n")
      }
    }
    val inter = interactions(dir)
    val tr = train(inter)
    val seen = tr.select(col("user_id"), col("item_id"))
    span("rank_cooccur_fit", op) {
      RetrievalPipeline.fitAndSave(tr, s"$dir/cooccur")
    }
    val cfg = span("rank_twotower_fit", op) {
      val (cfg, model, _) = TwoTower.gridSearch(
        Interactions.recentN(tr, RecentN).select(col("user_id"), col("item_id")),
        valid(inter).select(col("user_id"), col("item_id")), Grid, K,
        excludeSeen = Some(seen))
      model.save(s"$dir/twotower")
      cfg
    }
    val quality = span("rank_eval", op) {
      Cooccur.recommendAuto(tr, RetrievalPipeline.loadModel(spark, s"$dir/cooccur"), K)
        .write.parquet(s"$dir/preds/cooccur")
      TwoTower.recommend(TwoTower.load(spark, s"$dir/twotower", cfg),
          tr.select(col("user_id")).distinct(), K, excludeSeen = Some(seen))
        .write.parquet(s"$dir/preds/twotower")
      Rankers.map { r =>
        val per = RankingEval.perUser(spark.read.parquet(s"$dir/preds/$r"), test(inter), K)
        val (_, meanNdcg) = RankingEval.meanMetrics(per)
        val (recall, ndcg) = exactMetrics(per)
        if (math.abs(meanNdcg - ndcg) > 1e-9) failed += s"rank_eval:$r"
        r -> (recall, ndcg)
      }.toMap
    }
    span("serve_table", op) {
      val targets = RecsTable.firstTargetPerUser(test(inter), Seq(col("ts").asc, col("item_id").asc))
      RecsTable.writeParquet(RecsTable.assemble(spark.read.parquet(s"$dir/preds/twotower"),
        targets, RecsTable.popularFallback(tr, K)), s"$dir/recs_table")
    }
    val wall = System.nanoTime() - t0
    if (!recsTableOk(dir, seen)) failed += "serve_table"
    new Flow.Refresh(wall, dir, quality, failed.toSeq)
  }

  /** Micro recall@K (hits over held-out items) and mean NDCG@K, summed in
    * user order so the values repeat bit for bit. */
  def exactMetrics(per: DataFrame): (Double, Double) = {
    val rows = per.select(col("user_id"), col("n_test"), col("hits"), col("ndcg"))
      .collect().sortBy(_.getLong(0))
    val hits = rows.map(_.getLong(2)).sum
    val truth = rows.map(_.getLong(1)).sum
    (hits.toDouble / truth, rows.map(_.getDouble(3)).sum / rows.length)
  }

  /** Every user's list holds 1..K distinct items, none of them in the
    * user's training history, and one `no_user` fallback row exists. */
  def recsTableOk(dir: String, seen: DataFrame): Boolean = {
    val t = spark.read.parquet(s"$dir/recs_table")
    val users = t.filter(col("user_id") =!= "no_user")
    val badShape = t.filter(size(col("recs")) > K || size(col("recs")) === 0 ||
      size(array_distinct(col("recs"))) =!= size(col("recs"))).count()
    val seenHits = users.select(col("user_id"), explode(col("recs")).as("item"))
      .join(seen.select(col("user_id").cast("string").as("user_id"),
        col("item_id").cast("string").as("item")), Seq("user_id", "item")).count()
    val fallbacks = t.filter(col("user_id") === "no_user").count()
    badShape == 0 && seenHits == 0 && fallbacks == 1
  }
}

/** The closed-loop serve over the last refresh's models. Every answer is
  * checked after the loop against the same model's full-population
  * recommendations (the refresh's cached predictions). */
final class Server(flow: Flow, models: Flow.Refresh, reqs: IndexedSeq[Flow.Request]) {
  import Flow._
  private val spark = flow.spark
  import spark.implicits._

  private val dir = models.dir
  private val tr = flow.train(flow.interactions(dir))
  private val seen = tr.select(col("user_id"), col("item_id"))
  private val neighbors = RetrievalPipeline.loadModel(spark, s"$dir/cooccur")
  private val tt = TwoTower.load(spark, s"$dir/twotower")

  private def lists(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("user_id").cast("long"), col("rk"), col("item_id").cast("long")).collect()
      .groupBy(_.getLong(0)).map { case (u, rows) => u -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }

  private val fullPop: Map[String, Map[Long, Seq[Long]]] =
    Rankers.map(r => r -> lists(spark.read.parquet(s"$dir/preds/$r"))).toMap
  private val fallback: Seq[Long] =
    spark.read.parquet(s"$dir/recs_table").filter(col("user_id") === "no_user")
      .head().getSeq[String](1).map(_.toLong)

  /** One request: the ranker's answer for the batch; users it has no row
    * for get the fallback list (the `no_user` lookup). */
  def answer(r: Request): Map[Long, Seq[Long]] = {
    val batch = r.ids.toSeq.toDF("user_id")
    val got = r.ranker match {
      case "cooccur" => lists(Cooccur.recommendAuto(tr, neighbors, K, users = Some(batch)))
      case "twotower" => lists(TwoTower.recommend(tt, batch, K, excludeSeen = Some(seen)))
    }
    r.ids.map(u => u -> got.getOrElse(u, fallback)).toMap
  }

  def warmup(n: Int): Unit = (0 until n).foreach(i => answer(reqs(i % reqs.size)))

  /** The closed loop: one client thread per ranker, each replaying that
    * ranker's requests in stream order, sending the next only when the
    * previous answer arrived. A client stops once `seconds` have passed and
    * it sent at least `minRequests`, at the end of a pass (`pass` of its
    * requests), so every pass counts whole. Returns the checked requests
    * and the loop's wall. */
  def loop(seconds: Double, minRequests: Int, pass: Int,
      traced: Int => Boolean): (Seq[Served], Long) = {
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Map[Long, Seq[Long]], Boolean)]()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = Rankers.map { ranker =>
      val mine = reqs.indices.filter(reqs(_).ranker == ranker)
      new Thread(() => {
        var n = 0
        while (n < minRequests || System.nanoTime() < deadline || n % pass != 0) {
          val i = mine(n % mine.size)
          val tr = traced(n)
          val ns = System.nanoTime()
          val ans = flow.span(s"rank_serve_$ranker", s"q$i", tr)(answer(reqs(i)))
          results.add((i, System.nanoTime() - ns, ans, tr))
          n += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wallNs = System.nanoTime() - start
    val seenBy = {
      val users = results.asScala.flatMap(_._3.keys).toSeq.distinct.toDF("user_id")
      seen.join(users, Seq("user_id"), "left_semi").collect()
        .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(1)).toSet }
    }
    val served = results.asScala.toSeq.map { case (i, ns, ans, tr) =>
      val req = reqs(i)
      val full = fullPop(req.ranker)
      val ok = req.ids.forall { u =>
        val got = ans(u)
        got == full.getOrElse(u, fallback) && got.size <= K && got.distinct.size == got.size &&
          !got.exists(seenBy.getOrElse(u, Set.empty[Long]))
      }
      Served(req.ranker, ns, ok, tr)
    }
    (served, wallNs)
  }
}
