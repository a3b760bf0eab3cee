package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}

/** `query_mix`: a fixed sample of the registered `SparkEntry.queries`, run
  * [[Passes]] times each in an order shuffled by the seed, over a fixed generated
  * testdata set. Each query's DataFrame construction (where eager gates and
  * pins run) is timed apart from its terminal `count()`, and the cache is
  * cleared between queries as `graft.Bench` does.
  *
  * The sample is the fifteen queries named in expected/query_mix.tsv (every
  * twelfth query by name when the benchmark was defined). The whole registry
  * takes about three minutes per pass on four cores even at the smallest
  * scale, longer than one run may take. The names are fixed, not derived
  * from the registry, so a query added or removed later does not change the
  * work a run measures; a listed query missing from the registry fails the
  * run. */
object QueryMix {
  /** Testdata scale (sf0.01 = 1.0) and seed; fixed, so the expected row
    * counts and digests kept with the benchmark hold for every run. */
  val DataScale = 0.5
  val DataSeed = 42L

  /** Passes over the sample. The first queries of a pass run up to twice as
    * slow as later ones (JIT and codegen still warming), so a single pass's
    * figures depend on which queries the seed puts first; a query's time is
    * the faster of its two runs. */
  val Passes = 2

  /** The registered query the set-up runs, outside the sample. */
  val WarmQuery = "q02_revenue_by_nation"

  /** The sampled query names, as listed in the expected file. */
  def sample(expected: Map[String, (Long, String)]): Seq[String] = {
    val names = expected.keys.toSeq.sorted
    val missing = (names :+ WarmQuery).filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty, "the expected file lists no queries")
    require(missing.isEmpty, s"not in SparkEntry.queries: ${missing.mkString(", ")}")
    names
  }

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  /** Generate the fixed testdata once per build directory. */
  def ensureData(spark: SparkSession, cacheDir: String): String = {
    val dir = s"$cacheDir/query_mix-s$DataScale-$DataSeed"
    if (!Files.exists(Path.of(dir, "_DONE"))) {
      TestData.write(spark, dir, DataSeed, DataScale)
      Files.writeString(Path.of(dir, "_DONE"), "")
    }
    dir
  }

  /** Expected (rows, digest) per query, as kept in expected/query_mix.tsv. */
  def loadExpected(path: String): Map[String, (Long, String)] =
    if (!Files.exists(Path.of(path))) Map.empty
    else scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty)
      .filterNot(_.startsWith("#")).map { l =>
        val Array(q, n, d) = l.split("\t")
        q -> (n.toLong, d)
      }.toMap

  def run(spark: SparkSession, t: Tracer, rep: Report, seed: Long,
          dataDir: String, expectedPath: String, record: Boolean): Unit = {
    // set-up: first touch of every table (file listing, codegen, JIT), the
    // same warm-up graft.Bench does, plus one registered query outside the
    // sample; repeated so its median is steady
    val expected = loadExpected(expectedPath)
    val names = sample(expected)
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      t.span("setup.warmup") {
        tables.foreach(n => Tables.load(spark, dataDir, n).count())
        Tables.events(spark, dataDir).count()
        SparkEntry.queries(WarmQuery)(spark, dataDir).count()
        spark.catalog.clearCache()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val order = new Random(seed).shuffle(names)
    val digestSample = new Random(seed ^ 0xd16L).shuffle(order).take(order.size / 3).toSet
    final case class Q(name: String, build: Double, exec: Double, rows: Long,
                       cachedBytes: Long)
    val done = (1 to Passes).flatMap(pass => order.flatMap { name =>
      val fn = SparkEntry.queries(name)
      val r = rep.op(name) {
        t.span(s"SparkEntry.$name") {
          val t0 = System.nanoTime()
          val df = t.span("SparkEntry.build")(fn(spark, dataDir))
          val t1 = System.nanoTime()
          val n = t.span("SparkEntry.execute")(df.count())
          val t2 = System.nanoTime()
          (df, n, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
        }
      }
      val q = r.map { case (df, n, b, e) =>
        val exp = expected.get(name)
        rep.check(s"rows.$name.pass$pass", record || exp.exists(_._1 == n),
          s"$name returned $n rows, expected ${exp.map(_._1)}")
        if (pass == 1 && (record || digestSample(name))) {
          val d = digest(df)
          if (record) rep.details(s"expected.$name") = s"$n\t$d"
          else rep.check(s"digest.$name", exp.exists(_._2 == d),
            s"$name content digest $d, expected ${exp.map(_._2)}")
        }
        Q(name, b, e, n, cachedBytes(spark))
      }
      spark.catalog.clearCache()
      q
    })
    rep.check("all_queries_ran", done.size == Passes * order.size,
      s"${Passes * order.size - done.size} of ${Passes * order.size} query runs failed")
    // a query's time is its fastest pass, as graft.Bench takes the min of its runs
    val best = order.flatMap(n => done.filter(_.name == n).minByOption(q => q.build + q.exec))
    val times = best.map(q => q.build + q.exec)
    rep.e2e("setup_s", Stats.median(setups) + SparkEntry.oneTimeCosts.values.sum, "s")
    rep.details("setup_runs_s") = setups.map(x => f"$x%.3f").mkString(",")
    if (times.nonEmpty) {
      rep.steps(times, times.sum)
      rep.named("query_total_s", times.sum, "s")
      rep.named("query_geomean_s", Stats.geomean(times), "s")
    }
    rep.details("query_s") = best.map(q => f"${q.name}=${q.build}%.3f+${q.exec}%.3f").mkString(",")
    rep.details("one_time_s") = SparkEntry.oneTimeCosts.toString

    if (t.enabled) {
      t.finish()
      val builds = t.spansNamed("SparkEntry.build").map(t.stats)
      val execs = t.spansNamed("SparkEntry.execute").map(t.stats)
      rep.layer("SparkEntry.build_s", builds.map(_.wallS).sum, "s")
      rep.layer("SparkEntry.build_jobs", builds.map(_.jobs).sum, "count")
      rep.layer("SparkEntry.execute_s", execs.map(_.wallS).sum, "s")
      rep.layer("SparkEntry.execute_jobs", execs.map(_.jobs).sum, "count")
      rep.layer("spark.cached_bytes_before_clear", done.map(_.cachedBytes).sum, "bytes")
    }
  }

  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Order-independent digest of a result: each row rendered with doubles at
    * six significant digits, the rendered rows sorted, then MD5. */
  def digest(df: DataFrame): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => f"$d%.6g"
      case f: Float => f"${f.toDouble}%.6g"
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => x.toString
    }
    val lines = df.collect().map(render).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
