package perfbench

import scala.util.Random

/** Seeded inputs of one `steam_day`, with the outcomes the engine must reach
  * on them. Pure: no Spark, so a test can show the same seed gives the same
  * day.
  *
  * The warehouse starts with `nGames` catalogued games, their dims and
  * bridges, a price history (with `plantedDiscountRows` rows whose discount
  * is above 100, which the quality suite must report), a crawl state per game
  * and Mongo-shaped reviews whose appids are Zipf-skewed. The day then brings
  * `nTickFiles` wire files of price ticks (some lines replay earlier files,
  * some are not price ticks at all, some name games the catalogue has not
  * seen) and Debezium envelopes (inserts, genuine changes, no-op updates and
  * replays) split over [[CdcFiles]] files.
  *
  * Sizes follow the reference's own figures where it has one (BASELINE.md):
  * a tick file holds one 50-row price-crawl write batch, the reviews are as
  * many as its shipped sample, and the games are the fewest that hold them
  * under its cap of ten reviews per app. The rates it has no figure for
  * (replays, unseen appids, CDC no-ops) are chosen so every file exercises
  * each path; perfbench/README.md lists each number and its source. */
object SteamDayGen {

  final case class PriceRow(gameId: Int, priceCents: Long, discount: Double,
                            initialCents: Long, tsSec: Long)
  final case class Review(id: String, steamId: String, appid: Int, language: String,
                          text: String, created: Long, votedUp: Boolean)

  final case class Day(
      games: IndexedSeq[Int], titles: Map[Int, String], requiredAge: Map[Int, Int],
      developers: Seq[(Int, String)], publishers: Seq[(Int, String)],
      genres: Seq[(Int, String)], languages: Seq[(Int, String)],
      gameDevelopers: Seq[(Int, Int)], gamePublishers: Seq[(Int, Int)],
      gameGenres: Seq[(Int, Int)], gameLanguages: Seq[(Int, Int)],
      history: Seq[PriceRow], crawlState: Seq[(Int, Long, Long)],
      reviews: Seq[Review],
      tickFiles: Seq[Seq[String]], cdcFiles: Seq[Seq[String]],
      // the outcomes
      distinctTickRows: Long, gameIds: Set[Int], lastPriceTs: Map[Int, Long],
      genuineChanges: Long, plantedDiscountRows: Long)

  val DayStart = 1700000000L
  private val HistoryStart = DayStart - 90L * 86400

  /** Rows per tick wire file: the price crawl's write batch (batch_size=50). */
  private val TicksPerFile = 50
  /** Debezium files: the inserts, then three files of updates and replays. */
  private val CdcFiles = 4
  /** Review documents in the reference's shipped sample. */
  val SampleReviews = 1883
  /** The fewest apps that hold the sample under ten reviews per app. */
  val SampleGames = (SampleReviews + 9) / 10

  def generate(seed: Long, nTickFiles: Int, nGames: Int = SampleGames,
               nReviews: Int = SampleReviews): Day = {
    val r = new Random(seed)
    val games = (1 to nGames).map(_ * 10)
    val titles = games.map(g => g -> s"Game $g").toMap
    val requiredAge = games.map(g => g -> IndexedSeq(0, 0, 0, 12, 16, 18)(r.nextInt(6))).toMap
    def dim(prefix: String, n: Int) = (1 to n).map(i => i -> s"$prefix $i")
    def bridge(n: Int) = games.flatMap(g =>
      r.shuffle((1 to n).toList).take(1 + r.nextInt(3)).map(g -> _))

    // price history: one row per game from each of the ten days before this
    // one (the reference's price flow runs daily)
    val history0 = games.flatMap { g =>
      val base = 99L + r.nextInt(6000)
      (0 until 10).map { i =>
        val d = IndexedSeq(0, 0, 10, 25, 50, 75)(r.nextInt(6))
        PriceRow(g, base * (100 - d) / 100, d.toDouble, base,
          HistoryStart + i * 86400L + r.nextInt(3600))
      }
    }
    val planted = 3 + (math.abs(seed) % 5).toInt
    val plantAt = r.shuffle(history0.indices.toList).take(planted).toSet
    val history = history0.zipWithIndex.map { case (p, i) =>
      if (plantAt(i)) p.copy(discount = 101.0 + r.nextInt(50)) else p }
    val crawlState = games.map(g => (g, HistoryStart,
      history.filter(_.gameId == g).map(_.tsSec).max))

    val zipf = new TestData.Zipf(nGames, 1.1)
    val langs = IndexedSeq("english", "french", "german", "spanish")
    val reviews = (0 until nReviews).map { i =>
      Review(s"r$i", s"s${r.nextInt(nReviews)}", games(zipf.sample(r)),
        langs(r.nextInt(langs.size)), TestData.vocab(r.nextInt(TestData.vocab.size)),
        HistoryStart + r.nextInt(80 * 86400), r.nextBoolean())
    }

    // price ticks: every genuine tick has its own timestamp, so the rows are
    // distinct; replays (one line in ten, a chosen rate) copy a line from an
    // earlier file verbatim, and one tick in 25 (chosen) names an unseen game
    var ts = DayStart
    val newGames = (1 to 20).map(i => 100000 + i)
    val genuine = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val genuineLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val tickFiles = (0 until nTickFiles).map { f =>
      val before = genuineLines.size // lines of earlier files only
      (0 until TicksPerFile).map { _ =>
        if (before > 0 && r.nextInt(10) == 0) genuineLines(r.nextInt(before))
        else {
          ts += 1 + r.nextInt(30)
          val g = if (r.nextInt(25) == 0) newGames(r.nextInt(newGames.size))
            else games(r.nextInt(nGames))
          val initial = 99 + r.nextInt(6000)
          val d = IndexedSeq(0, 10, 20, 33, 50, 75, 90)(r.nextInt(7))
          val line = tick(g, initial * (100 - d) / 100, d, initial, ts)
          genuine += (g -> ts)
          genuineLines += line
          line
        }
      }.toVector :+ s"""{"type":"review","appid":${games(0)}}""" :+ "not json"
    }
    val lastTick = genuine.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).max }
    val lastPriceTs = crawlState.map { case (g, _, t) => g -> t }.toMap ++ lastTick

    // CDC envelopes: per game a sequence with strictly rising timestamps;
    // only genuine changes notify. Chosen rates: one to three updates per game
    // per file, a quarter of them no-ops, and one genuine change in five
    // replayed in this or a later file
    var genuineChanges = 0L
    val cdcFiles = Array.fill(CdcFiles)(Vector.newBuilder[String])
    games.foreach { g =>
      var price = 9.99 + r.nextInt(50)
      var disc = 0
      var t = DayStart * 1000
      cdcFiles(0) += cdc(g, t, None, price, disc) // insert: no notify
      (1 until CdcFiles).foreach { f =>
        (0 until 1 + r.nextInt(3)).foreach { _ =>
          t += 1000 + r.nextInt(60000)
          r.nextInt(4) match {
            case 0 => cdcFiles(f) += cdc(g, t, Some((price, disc)), price, disc) // no-op
            case _ =>
              val np = math.rint((price * (0.5 + r.nextDouble())) * 100) / 100
              val nd = IndexedSeq(0, 10, 25, 50)(r.nextInt(4))
              if (np != price || nd != disc) {
                val env = cdc(g, t, Some((price, disc)), np, nd)
                cdcFiles(f) += env
                genuineChanges += 1
                // a replay of the same envelope, in this or a later file
                if (r.nextInt(5) == 0) cdcFiles(f + r.nextInt(CdcFiles - f)) += env
                price = np; disc = nd
              }
          }
        }
      }
    }

    Day(games, titles, requiredAge,
      dim("Dev", 12), dim("Pub", 8), dim("Genre", 10), dim("Lang", 6),
      bridge(12), bridge(8), bridge(10), bridge(6),
      history, crawlState, reviews, tickFiles, cdcFiles.map(_.result()).toSeq,
      distinctTickRows = genuine.size.toLong,
      gameIds = games.toSet ++ genuine.map(_._1),
      lastPriceTs = lastPriceTs,
      genuineChanges = genuineChanges,
      plantedDiscountRows = planted.toLong)
  }

  private def cents(c: Long): String = f"${c / 100},${c % 100}%02d"

  private def tick(appid: Int, price: Long, disc: Int, initial: Long, ts: Long): String =
    s"""{"type":"price","appid":$appid,"discount":"$disc","price":"${cents(price)}","initial_price":"${cents(initial)}","timestamp":$ts.0}"""

  private def cdc(id: Int, tsMs: Long, before: Option[(Double, Int)],
                  price: Double, disc: Int): String = {
    val b = before.map { case (p, d) =>
      s"""{"game_id":$id,"discount":$d,"price":$p,"initial_price":$p,"timestamp":${tsMs - 1000}}"""
    }.getOrElse("null")
    s"""{"payload":{"before":$b,"after":{"game_id":$id,"discount":$disc,"price":$price,"initial_price":$price,"timestamp":$tsMs}}}"""
  }
}
