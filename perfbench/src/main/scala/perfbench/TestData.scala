package perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded tables in the shape of the engine's testdata (TESTDATA.md): a
  * TPC-H-like star schema, an `events` table, a `documents` corpus over a
  * small technical vocabulary with planted near-duplicates, and labelled
  * 64-dimensional `embeddings`. The same seed and scale give the same rows.
  *
  * `scale` multiplies the row counts of sf0.01 (lineitem 60,000 at 1.0). */
object TestData {

  /** The corpus vocabulary, most frequent first: term probes sample it by
    * rank, so the head terms carry the longest posting lists. */
  val vocab: IndexedSeq[String] = IndexedSeq(
    "the", "a", "table", "query", "spark", "scan", "value", "join", "order",
    "small", "window", "group", "data", "filter", "batch", "line", "key",
    "column", "stream", "merge", "part", "customer", "big", "row", "slow",
    "fast", "hash", "sort", "agg", "vector")

  val dim = 64
  val langs: IndexedSeq[(String, Int)] =
    IndexedSeq("en" -> 44, "fr" -> 13, "es" -> 14, "zh" -> 15, "de" -> 14)

  final case class Sizes(customers: Int, suppliers: Int, parts: Int,
                         orders: Int, events: Int, documents: Int,
                         embeddings: Int)
  def sizes(scale: Double): Sizes = {
    def n(base: Int) = math.max(5, (base * scale).round.toInt)
    Sizes(n(1500), n(100), n(2000), n(15000), n(10000), n(500), n(500))
  }

  /** Zipf-like rank sampler over `n` items (weight 1 / (rank + 1)). */
  final class Zipf(n: Int, s: Double = 1.0) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r.toDouble, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def text(r: Random, nWords: Int): String =
    Seq.fill(nWords)(vocab(r.nextInt(vocab.size))).mkString(" ")

  /** (doc_id, text, lang, source, n_chars): about one doc in twenty is an
    * earlier doc with " dup" appended, the testdata's near-duplicate shape. */
  def documents(seed: Long, n: Int): IndexedSeq[(Long, String, String, String, Long)] = {
    val r = new Random(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val t =
        if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else text(r, 10 + r.nextInt(80))
      texts(i) = t
      val lang = {
        var u = r.nextInt(100)
        langs.find { case (_, w) => u -= w; u < 0 }.get._1
      }
      (i.toLong, t, lang, s"src${i % 20}", t.length.toLong)
    }
  }

  /** (vec_id, embedding, label): ten label centres plus seeded noise. */
  def embeddings(seed: Long, n: Int): IndexedSeq[(Long, Array[Float], Int)] = {
    val r = new Random(seed ^ 0x5eedL)
    val centres = Array.fill(10, dim)((r.nextGaussian() * 0.12).toFloat)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      (i.toLong, Array.tabulate(dim)(d =>
        (centres(label)(d) + r.nextGaussian() * 0.08).toFloat), label)
    }
  }

  private val day0 = Timestamp.valueOf("1995-01-01 00:00:00").getTime

  /** Write every testdata table as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long, scale: Double): Sizes = {
    val sz = sizes(scale)
    val r = new Random(seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t)
    def money(x: Double) = math.rint(x * 100) / 100
    def day(d: Int) = new Timestamp(day0 + d * 86400000L)

    val regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segs = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until sz.customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r.nextDouble() * 10000 - 1000), segs(r.nextInt(5)))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until sz.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r.nextDouble() * 10000))))
    val adj = IndexedSeq("small", "red", "blue", "hot", "cold", "old", "new", "large")
    val noun = IndexedSeq("ring", "widget", "bolt", "gear", "rod", "plate", "anvil", "gizmo")
    val types = IndexedSeq("PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM")
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until sz.parts).map(i => Row(i.toLong, s"${adj(r.nextInt(8))} ${noun(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        money(900 + (i % 1000) * 0.1))))
    val prio = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDays = Array.fill(sz.orders)(r.nextInt(2400))
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until sz.orders).map(i => Row(i.toLong, r.nextInt(sz.customers).toLong,
        IndexedSeq("F", "O", "P")(r.nextInt(3)), money(1000 + r.nextDouble() * 500000),
        day(orderDays(i)), prio(r.nextInt(5)))))
    val items = (0 until sz.orders).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        val q = (1 + r.nextInt(50)).toDouble
        Row(o.toLong, r.nextInt(sz.parts).toLong, r.nextInt(sz.suppliers).toLong, ln, q,
          money(q * (900 + r.nextDouble() * 2000)), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, IndexedSeq("A", "N", "R")(r.nextInt(3)),
          IndexedSeq("F", "O")(r.nextInt(2)), day(orderDays(o) + 1 + r.nextInt(120)))
      }
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))), items)
    val ev0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val evTypes = IndexedSeq("click", "view", "purchase", "signup", "error")
    val users = math.max(10, sz.events / 66)
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until sz.events).map { i =>
        val ts = new Timestamp(ev0 + i.toLong * 30L * 86400000L / sz.events + r.nextInt(60000))
        Row(i.toLong, ts, r.nextInt(users).toLong, evTypes(r.nextInt(5)),
          money(0.01 + r.nextDouble() * 490), s"""{"k": ${r.nextInt(100)}}""")
      })
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      documents(seed, sz.documents).map { case (a, b, c, d, e) => Row(a, b, c, d, e) })
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      embeddings(seed, sz.embeddings).map { case (a, b, c) => Row(a, b.toSeq, c) })
    sz
  }
}
