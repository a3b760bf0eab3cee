package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.domain.{ModelRunner, Schemas, SteamModels}
import graft.streaming.{PricePipeline, Streams}

/** `steam_day`: the paper's own pipeline over a seeded warehouse.
  *
  *  1. price ticks: wire files land one at a time in `PricePipeline.start`'s
  *     staging directory; each is timed from landing to
  *     `processAllAvailable` returning
  *  2. CDC: Debezium envelopes stream through decodeCdc -> cdcChanged ->
  *     monotoneDedup -> notifyBatch with a counting notifier
  *  3. `ModelRunner.run`: the marts, then `DataQuality.steamSuite`
  *
  * The day has one tick file per second of `--seconds`, at least ten. */
object SteamDay {

  /** Executor-side notifier counter; the benchmark runs Spark in local mode,
    * so executors share this JVM. */
  object Calls { val n = new AtomicLong() }
  final class CountingNotifier extends Streams.Notifier {
    def notify(gameId: Int, oldPrice: Double, newPrice: Double): Boolean = {
      Calls.n.incrementAndGet(); true
    }
  }

  private val pricesSchema = StructType(Seq(
    StructField("game_id", IntegerType), StructField("price_cents", LongType),
    StructField("discount", DoubleType), StructField("initial_price_cents", LongType),
    StructField("timestamp", TimestampType)))

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  /** Write the pipeline's starting tables (games, prices, crawl_state).
    * Input generation: not timed. */
  def seedWarehouse(spark: SparkSession, d: SteamDayGen.Day, wh: String): Unit = {
    def rows(schema: StructType, rs: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), schema)
    rows(StructType(Seq(StructField("game_id", IntegerType, nullable = false))),
      d.games.map(Row(_))).write.parquet(s"$wh/games")
    rows(pricesSchema, d.history.map(p =>
      Row(p.gameId, p.priceCents, p.discount, p.initialCents, ts(p.tsSec))))
      .write.parquet(s"$wh/prices")
    rows(StructType(Seq(StructField("game_appid", IntegerType),
      StructField("last_review_timestamp", TimestampType),
      StructField("last_price_timestamp", TimestampType))),
      d.crawlState.map { case (g, r, p) => Row(g, ts(r), ts(p)) })
      .write.parquet(s"$wh/crawl_state")
  }

  /** Write the catalog the crawler enriches games with: titles, dims,
    * bridges and reviews. Input generation: not timed. */
  def seedCatalog(spark: SparkSession, d: SteamDayGen.Day, cat: String): Unit = {
    import spark.implicits._
    d.games.map(g => (g, d.titles(g), d.requiredAge(g))).toDF("game_id", "title", "required_age")
      .write.parquet(s"$cat/titles")
    Seq("developers" -> ("dev_id", d.developers), "publishers" -> ("pub_id", d.publishers),
      "genres" -> ("genre_id", d.genres), "languages" -> ("lang_id", d.languages))
      .foreach { case (n, (k, xs)) => xs.toDF(k, "name").write.parquet(s"$cat/$n") }
    Seq("game_developers" -> ("dev_id", d.gameDevelopers),
      "game_publishers" -> ("pub_id", d.gamePublishers),
      "game_genres" -> ("genre_id", d.gameGenres),
      "game_languages" -> ("lang_id", d.gameLanguages))
      .foreach { case (n, (k, xs)) => xs.toDF("game_id", k).write.parquet(s"$cat/$n") }
    spark.createDataFrame(spark.sparkContext.parallelize(d.reviews.map(v => Row(v.id,
      Row(v.steamId, 10, 2, 100, 5, 50, v.created), v.language, v.text,
      v.created, v.created, v.votedUp, 1, 0, "0.5", 0, true, false, false, false,
      v.appid, "2023-11-14")), 2), Schemas.review).write.parquet(s"$cat/reviews")
  }

  /** The relational warehouse the model graph reads, assembled from the
    * pipeline's tables and the catalog (ReferenceDay's enrichment step). */
  def assemble(spark: SparkSession, wh: String, cat: String): SteamModels.Warehouse = {
    def c(n: String) = spark.read.parquet(s"$cat/$n")
    val titles = c("titles")
    val games = spark.read.parquet(s"$wh/games").join(titles, Seq("game_id"), "left")
      .select(col("game_id"), coalesce(col("title"), lit("(uncatalogued)")).as("title"),
        lit(null).cast("string").as("description"), lit(null).cast("date").as("release_date"),
        lit(null).cast("string").as("windows_req"), lit(null).cast("string").as("mac_req"),
        lit(null).cast("string").as("linux_req"),
        coalesce(col("required_age"), lit(0)).as("required_age"),
        lit(null).cast("string").as("awards"))
    val prices = spark.read.parquet(s"$wh/prices").select(
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("game_id", "timestamp")).cast("long").as("price_id"),
      col("game_id"), (col("price_cents") / 100.0).cast("decimal(10,2)").as("price"),
      col("discount").cast("int").as("discount"),
      (col("initial_price_cents") / 100.0).cast("decimal(10,2)").as("initial_price"),
      col("timestamp"))
    SteamModels.Warehouse(games = games,
      developers = c("developers"), publishers = c("publishers"),
      genres = c("genres"), languages = c("languages"),
      gameDevelopers = c("game_developers"), gamePublishers = c("game_publishers"),
      gameGenres = c("game_genres"), gameLanguages = c("game_languages"),
      prices = prices, crawlState = spark.read.parquet(s"$wh/crawl_state"),
      reviews = c("reviews"))
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).toArray.map(_.asInstanceOf[Path]).foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }

  /** Land a wire file atomically: Spark's file source skips names starting
    * with '.', so the rename is the moment the file appears. */
  private def land(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = Path.of(dir, s".$name.tmp")
    Files.writeString(tmp, lines.mkString("\n") + "\n")
    Files.move(tmp, Path.of(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def tickStream(spark: SparkSession, root: String) = {
    val staging = Files.createDirectories(Path.of(root, "staging")).toString
    val q = PricePipeline.start(spark, staging, s"$root/warehouse",
      Files.createDirectories(Path.of(root, "ckpt")).toString)
    (staging, q)
  }

  def run(spark: SparkSession, t: Tracer, rep: Report, seed: Long,
          seconds: Double, work: String): Unit = {
    import spark.implicits._
    val nFiles = math.max(10, seconds.round.toInt)
    val day = SteamDayGen.generate(seed, nFiles)

    // set-up: the price stream's first start and batches on a scratch copy
    // of a small warehouse (JIT, codegen, file source), three times
    val warm = SteamDayGen.generate(seed + 1, 1, nGames = 20, nReviews = 50)
    seedWarehouse(spark, warm, s"$work/warm-seed")
    val setups = (1 to 3).map { i =>
      val root = s"$work/warmup$i"
      copyTree(Path.of(s"$work/warm-seed"), Path.of(root, "warehouse"))
      val t0 = System.nanoTime()
      t.span("setup.price_stream") {
        val (staging, q) = tickStream(spark, root)
        try warm.tickFiles.zipWithIndex.foreach { case (f, j) =>
          land(staging, s"w$j.jsonl", f); q.processAllAvailable() }
        finally q.stop()
      }
      (System.nanoTime() - t0) / 1e9
    }
    rep.e2e("setup_s", Stats.median(setups), "s")
    rep.details("setup_runs_s") = setups.map(x => f"$x%.3f").mkString(",")
    rep.log("set-up done")

    val root = s"$work/day"
    val wh = s"$root/warehouse"
    val cat = s"$root/catalog"
    seedWarehouse(spark, day, wh)
    seedCatalog(spark, day, cat)
    rep.log("warehouse seeded")

    // 1. price ticks, one wire file per micro-batch
    val (staging, q) = tickStream(spark, root)
    val tickTimes = try day.tickFiles.zipWithIndex.flatMap { case (f, j) =>
      rep.op(s"tick_batch_$j") {
        t.span("streaming.PricePipeline.batch") {
          val t0 = System.nanoTime()
          land(staging, f"t$j%04d.jsonl", f)
          q.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }
      }
    } finally q.stop()
    val (tail, tailP) = Stats.tail(tickTimes)
    rep.named("tick_batch_p50_s", Stats.median(tickTimes), "s")
    rep.named("tick_batch_tail_s", tail, "s")
    rep.details("tick_batch_tail") = f"p$tailP%.1f of ${tickTimes.size} batches"

    rep.log("ticks done")
    // 2. CDC -> change filter -> monotone dedup -> notify
    Calls.n.set(0)
    val cdcDir = Files.createDirectories(Path.of(root, "cdc")).toString
    val tc = System.nanoTime()
    rep.op("cdc_stage") {
      t.span("streaming.Streams.cdc") {
        val changes = Streams.cdcChanged(Streams.decodeCdc(spark.readStream.text(cdcDir)))
          .select(col("after.game_id").as("game_id"),
            (col("after.timestamp") / 1000).as("ts"),
            col("before.price").as("old_price"), col("after.price").as("new_price"),
            col("before.discount").as("old_discount"), col("after.discount").as("new_discount"))
          .as[Streams.CdcChange]
        val cq = Streams.monotoneDedup(changes).writeStream.outputMode("append")
          .option("checkpointLocation",
            Files.createDirectories(Path.of(root, "cdc_ckpt")).toString)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.CdcChange], _: Long) =>
            Streams.notifyBatch(b, new CountingNotifier); ()
          }.start()
        try day.cdcFiles.zipWithIndex.foreach { case (f, j) =>
          land(cdcDir, s"c$j.jsonl", f); cq.processAllAvailable() }
        finally cq.stop()
      }
    }
    val cdcS = (System.nanoTime() - tc) / 1e9
    rep.named("cdc_notify_s", cdcS, "s")
    val notified = Calls.n.get()

    // 3. the model graph and its quality suite
    val w = assemble(spark, wh, cat)
    val td = System.nanoTime()
    val result = rep.op("model_run") {
      t.span("domain.ModelRunner.run")(ModelRunner.run(spark, w, s"$root/marts"))
    }
    val dbtS = (System.nanoTime() - td) / 1e9
    rep.named("dbt_run_s", dbtS, "s")
    rep.steps(tickTimes, tickTimes.sum + cdcS + dbtS)

    rep.log("model run done")
    // the outcomes the generator promised
    val prices = spark.read.parquet(s"$wh/prices").count()
    rep.check("tick_rows", prices == day.history.size + day.distinctTickRows,
      s"prices has $prices rows, expected ${day.history.size} + ${day.distinctTickRows}")
    val gameIds = spark.read.parquet(s"$wh/games").as[Int].collect().toSeq
    rep.check("game_ids", gameIds.size == day.gameIds.size && gameIds.toSet == day.gameIds,
      s"games has ${gameIds.size} rows (${gameIds.toSet.size} distinct), expected ${day.gameIds.size}")
    val state = spark.read.parquet(s"$wh/crawl_state")
      .select(col("game_appid"), unix_seconds(col("last_price_timestamp")))
      .as[(Int, Long)].collect().toMap
    rep.check("last_price_ts", state == day.lastPriceTs,
      s"${(state.keySet ++ day.lastPriceTs.keySet).count(k => state.get(k) != day.lastPriceTs.get(k))} games disagree")
    rep.check("cdc_notifications", notified == day.genuineChanges,
      s"notifier called $notified times, expected ${day.genuineChanges}")
    result.foreach { r =>
      val found = r.testFailures.map(f => f.name -> f.violations).toMap
      val want = Map("accepted_range(discount)" -> day.plantedDiscountRows)
      rep.check("quality_violations", found == want, s"quality suite reported $found, expected $want")
      rep.check("marts", Seq("dim_games", "fact_reviews", "game_quality_metrics")
        .forall(m => r.materialized.get(m).exists(p => Files.exists(Path.of(p)))),
        s"materialized ${r.materialized}")
    }

    rep.log("checked")
    if (t.enabled) layers(spark, t, rep, day, notified, wh)
  }

  private def layers(spark: SparkSession, t: Tracer, rep: Report,
                     day: SteamDayGen.Day, notified: Long, wh: String): Unit = {
    t.finish()
    val batches = t.spansNamed("streaming.PricePipeline.batch")
    val progress = batches.flatMap(t.progressIn)
    Seq("addBatch", "latestOffset", "walCommit", "commitOffsets", "queryPlanning").foreach { k =>
      val xs = progress.flatMap(_.durationMs.get(k)).map(_ / 1e3)
      if (xs.nonEmpty) rep.layer(s"streaming.PricePipeline.${k}_p50_s", Stats.median(xs), "s")
    }
    val bs = batches.map(t.stats)
    rep.layer("streaming.PricePipeline.jobs_per_batch", bs.map(_.jobs).sum.toDouble / bs.size, "count")
    rep.layer("streaming.PricePipeline.shuffle_bytes_per_batch",
      bs.map(_.shuffleWriteBytes).sum.toDouble / bs.size, "bytes")
    val writes = batches.flatMap(t.actionsIn).filter(_.writePath.nonEmpty)
    def writeP50(suffix: String) = writes.filter(_.writePath.exists(_.endsWith(suffix)))
      .map(_.durationS)
    Seq("prices" -> "/prices", "crawl_state" -> "/crawl_state__tmp").foreach { case (n, s) =>
      val xs = writeP50(s)
      if (xs.nonEmpty) rep.layer(s"sources.Writers.${n}_write_p50_s", Stats.median(xs), "s")
    }
    rep.layer("sources.Writers.prices_files", Files.list(Path.of(wh, "prices")).toArray
      .count(_.toString.endsWith(".parquet")), "count")

    val cdc = t.spansNamed("streaming.Streams.cdc")
    val cdcProgress = cdc.flatMap(t.progressIn)
    // no progress event inside the CDC span means the listener missed the
    // stream: the metric stays unreported, so run.py fails the run
    if (cdcProgress.nonEmpty)
      rep.layer("streaming.Streams.monotoneDedup.state_rows", cdcProgress.maxBy(_.atMs).stateRows, "count")
    rep.layer("streaming.Streams.notifyBatch.calls", notified, "count")
    if (notified > 0)
      rep.layer("streaming.Streams.notify_useful_ratio", day.genuineChanges.toDouble / notified, "ratio")

    t.spansNamed("domain.ModelRunner.run").headOption.foreach { s =>
      val st = t.stats(s)
      val acts = t.actionsIn(s)
      // the marts are the run's parquet writes; the quality suite's checks
      // are the counts that follow the last of them
      val martWrites = acts.filter(_.writePath.nonEmpty)
      rep.layer("domain.ModelRunner.jobs", st.jobs, "count")
      rep.layer("domain.ModelRunner.shuffle_bytes", st.shuffleWriteBytes, "bytes")
      rep.layer("domain.ModelRunner.driver_gap_s", st.driverGapS, "s")
      // without the mart writes the split is unknown: those metrics stay
      // unreported, so run.py fails the run
      if (martWrites.nonEmpty) {
        val lastWrite = martWrites.map(_.endMs).max
        val checks = acts.filter(a => a.writePath.isEmpty && a.startMs >= lastWrite)
        rep.layer("domain.ModelRunner.mart_write_s", martWrites.map(_.durationS).sum, "s")
        rep.layer("quality.DataQuality.checks_s", checks.map(_.durationS).sum, "s")
        rep.layer("quality.DataQuality.jobs", t.jobsBetween(lastWrite, s.endMs), "count")
      }
    }
  }
}
