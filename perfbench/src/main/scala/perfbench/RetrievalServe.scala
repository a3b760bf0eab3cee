package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.{DedupLake, LakeSync, LexLake, Retrieval, VectorLake}
import graft.operators.{Clustering, TextStats}

/** `retrieval_serve`: a long-lived serving session over the three lakes,
  * with writes beside the reads.
  *
  * Set-up builds the vector, lexical and dedup lakes from a seeded corpus and
  * reconciles each once, so the SQ8 codes and the impact tier exist. The loop
  * is one client in a closed loop: each call builds its DataFrame and
  * collects the answer before the next call goes out (see
  * [[RetrievalGen.schedule]]). The cache is never cleared. After the loop
  * every lake is reconciled and the answers are checked against the logical
  * corpus the benchmark kept beside the engine. */
object RetrievalServe {

  val NDocs = 600
  val K = 4 // IVF lists
  private val TopN = 10

  final case class Lakes(vector: String, lex: String, dedup: String, sync: String)

  private def reconcileAll(spark: SparkSession, t: Tracer, rep: Report, l: Lakes): Unit = {
    rep.log("reconcile")
    t.span("domain.VectorLake.reconcile")(
      VectorLake.reconcile(spark, l.vector, k = K, iters = 3, sqMinRecall = 0.05))
    t.span("domain.DedupLake.reconcile")(DedupLake.reconcile(spark, l.dedup))
    t.span("domain.LexLake.reconcile")(
      LexLake.reconcile(spark, l.lex, impactPostings = 16, impactDfThreshold = NDocs / 10,
        impactMinRecall = 0.05))
  }

  def run(spark: SparkSession, t: Tracer, rep: Report, seed: Long,
          seconds: Double, work: String): Unit = {
    import spark.implicits._
    val docs0 = TestData.documents(seed, NDocs)
    val embs0 = TestData.embeddings(seed, NDocs)
    val text = mutable.Map(docs0.map(d => d._1 -> d._2): _*)
    val vecs = mutable.Map(embs0.map(e => e._1 -> e._2): _*)
    val inputBytes = docs0.map(_._2.getBytes("UTF-8").length.toLong).sum +
      embs0.map(_._2.length * 4L).sum
    val docsDf = docs0.map(d => (d._1, d._2)).toDF("doc_id", "text").cache()
    val embDf = embs0.map(e => (e._1, e._2.toSeq)).toDF("vec_id", "embedding").cache()
    docsDf.count(); embDf.count()

    // set-up: the three lake builds and their first reconcile
    val l = Lakes(s"$work/vector", s"$work/lex", s"$work/dedup", s"$work/sync")
    val s0 = System.nanoTime()
    val kept = t.span("setup.lakes") {
      val cents = t.span("operators.Clustering.kmeansCentroids")(
        Clustering.kmeansCentroids(embDf, "vec_id", "embedding", k = K, iters = 3)
          .orderBy("cluster").collect().map(_.getSeq[Double](1).toIndexedSeq).toSeq)
      val kept = t.span("domain.VectorLake.ingest") {
        VectorLake.init(spark, l.vector, cents)
        VectorLake.ingest(spark, l.vector, embDf).kept
      }
      t.span("domain.LexLake.ingest")(LexLake.ingest(spark, l.lex, docsDf, nBuckets = 8))
      t.span("domain.DedupLake.ingest")(DedupLake.ingest(spark, l.dedup, docsDf).count())
      reconcileAll(spark, t, rep, l)
      kept
    }
    rep.log("lakes built")
    rep.check("vector_ingest_kept_all", kept == NDocs, s"vector ingest kept $kept of $NDocs")
    val r = new Random(seed)
    val zipf = new TestData.Zipf(TestData.vocab.size)
    val liveIds = mutable.ArrayBuffer(docs0.map(_._1): _*)
    val purged = mutable.Set.empty[Long]
    var edits = 0

    def termProbes(n: Int) = (0 until n).map(i =>
      (i.toLong, RetrievalGen.terms(r, zipf, TestData.vocab))).toDF("probe_id", "terms")
    def vecProbes(n: Int) = (0 until n).map { i =>
      val id = liveIds(r.nextInt(liveIds.size))
      (i.toLong, RetrievalGen.jitter(r, vecs(id)).toSeq)
    }.toDF("probe_id", "embedding")
    def build(endpoint: String, n: Int): DataFrame = endpoint match {
      case "domain.LexLake.serve" => LexLake.serve(spark, l.lex, termProbes(n), TopN)
      case "domain.LexLake.serve_impact" =>
        LexLake.serve(spark, l.lex, termProbes(n), TopN, impact = true)
      case "domain.LexLake.prfServe" =>
        LexLake.prfServe(spark, l.lex, termProbes(n), TopN, fbDocs = 3, fbTerms = 2)
      case "domain.LexLake.phraseServeBatch" =>
        LexLake.phraseServeBatch(spark, l.lex, (0 until n).map { i =>
          (i.toLong, RetrievalGen.phrase(r, text(liveIds(r.nextInt(liveIds.size)))))
        }.toDF("probe_id", "phrase"))
      case "domain.LexLake.proximityServeBatch" =>
        LexLake.proximityServeBatch(spark, l.lex, (0 until n).map { i =>
          (i.toLong, TestData.vocab(zipf.sample(r)), TestData.vocab(zipf.sample(r)))
        }.toDF("probe_id", "term_a", "term_b"), w = 3)
      case "domain.LexLake.passageServeBatch" =>
        LexLake.passageServeBatch(spark, l.lex, termProbes(n), w = 4)
      case "domain.VectorLake.searchBatch" =>
        VectorLake.searchBatch(spark, l.vector, vecProbes(n), TopN)
      case "domain.VectorLake.searchBatch_sq8" =>
        VectorLake.searchBatch(spark, l.vector, vecProbes(n), TopN, quantized = true)
      case "domain.VectorLake.searchBatch_sq8_refine" =>
        VectorLake.searchBatch(spark, l.vector, vecProbes(n), TopN, quantized = true,
          refineFactor = 4)
      case "domain.Retrieval.hybridServeAt" =>
        val probes = (0 until n).map { i =>
          val id = liveIds(r.nextInt(liveIds.size))
          (i.toLong, RetrievalGen.jitter(r, vecs(id)).toSeq,
            RetrievalGen.terms(r, zipf, TestData.vocab))
        }.toDF("probe_id", "embedding", "terms")
        Retrieval.hybridServeAt(spark, l.vector, l.lex,
          Retrieval.currentSnapshot(spark, l.vector, l.lex), probes, k = TopN,
          prfFbDocs = 3, prfFbTerms = 2)
    }
    // the id column each endpoint answers with
    def idCol(endpoint: String): String =
      if (endpoint.startsWith("domain.LexLake")) "doc_id" else "neighbor_id"

    def serve(endpoint: String, n: Int, name: String): Option[(Double, Int)] =
      rep.op(s"$endpoint.b$n") {
        t.span(name) {
          val t0 = System.nanoTime()
          val df = t.span(s"$name.build")(build(endpoint, n))
          val ids = t.span(s"$name.collect")(df.select(col(idCol(endpoint))).collect())
            .map(_.getLong(0))
          val secs = (System.nanoTime() - t0) / 1e9
          rep.log(f"$name ${ids.length} ids in $secs%.3f s")
          // a pinned read serves the committed generation by contract, so a
          // purge becomes invisible to it only at the next reconcile
          if (!endpoint.endsWith("At")) {
            val leaked = ids.filter(purged).distinct
            rep.check(s"no_purged_ids.$name.${rep.attempted}", leaked.isEmpty,
              s"$endpoint served purged ids ${leaked.mkString(",")}")
          }
          (secs, n)
        }
      }

    // warm-up: every endpoint once at batch size one (JIT, codegen, listings)
    RetrievalGen.Endpoints.foreach(e => serve(e, 1, "setup.warmup"))
    rep.e2e("setup_s", (System.nanoTime() - s0) / 1e9, "s")

    val cycles = math.max(1, math.round(seconds / 10).toInt)
    val serveTimes = mutable.ArrayBuffer.empty[(Double, Int)]
    val writeTimes = mutable.ArrayBuffer.empty[Double]
    RetrievalGen.schedule(seed, cycles).foreach {
      case RetrievalGen.Serve(e, b) => serve(e, b, s"$e#b$b").foreach(serveTimes += _)
      case RetrievalGen.Upsert =>
        // edit a resident doc: new text with a unique term, new embedding
        val id = liveIds(r.nextInt(liveIds.size))
        edits += 1
        val (unique, newText) = RetrievalGen.editText(r, seed, edits)
        val newVec = RetrievalGen.freshVector(r)
        rep.op("domain.LakeSync.upsertDocs") {
          t.span("domain.LakeSync.upsertDocs") {
            val t0 = System.nanoTime()
            LakeSync.upsertDocs(spark, l.sync, l.dedup, l.vector,
              Seq((id, newText, newVec.toSeq)).toDF("doc_id", "text", "embedding"),
              lexRoot = Some(l.lex))
            writeTimes += (System.nanoTime() - t0) / 1e9
          }
        }
        text(id) = newText
        vecs(id) = newVec
        val hits = LexLake.serve(spark, l.lex, Seq((0L, Seq(unique))).toDF("probe_id", "terms"), 5)
          .select("doc_id").as[Long].collect().toSeq
        rep.check(s"edit_served.$id.$edits", hits == Seq(id),
          s"serve on '$unique' returned $hits, expected $id")
      case RetrievalGen.Delete =>
        val id = liveIds.remove(r.nextInt(liveIds.size))
        rep.op("domain.LakeSync.deleteDocs") {
          t.span("domain.LakeSync.deleteDocs") {
            val t0 = System.nanoTime()
            LakeSync.deleteDocs(spark, l.sync, l.dedup, l.vector, Seq(id).toDF("doc_id"),
              lexRoot = Some(l.lex))
            writeTimes += (System.nanoTime() - t0) / 1e9
          }
        }
        purged += id
        text.remove(id)
        vecs.remove(id)
    }
    val overlayRows = Seq("lex" -> l.lex, "vector" -> l.vector).map { case (n, root) =>
      n -> Seq("tombstones", "edits").map { sub =>
        if (Files.exists(Path.of(root, sub))) spark.read.parquet(s"$root/$sub").count() else 0L
      }.sum
    }.toMap

    rep.log("loop done")
    val tr = System.nanoTime()
    rep.op("reconcile")(reconcileAll(spark, t, rep, l))
    val reconcileS = (System.nanoTime() - tr) / 1e9
    rep.named("reconcile_s", reconcileS, "s")

    val lat = serveTimes.map(_._1).toSeq
    val (tail, tailP) = Stats.tail(lat)
    rep.steps(lat, lat.sum + writeTimes.sum + reconcileS)
    rep.named("serve_p50_s", Stats.median(lat), "s")
    rep.named("serve_tail_s", tail, "s")
    rep.details("serve_tail") = f"p$tailP%.1f of ${lat.size} calls"
    rep.named("probes_per_s", serveTimes.map(_._2).sum / lat.sum, "1/s")
    rep.named("lake_write_p50_s", Stats.median(writeTimes.toSeq), "s")
    val lakeBytes = Seq(l.vector, l.lex, l.dedup).map(dirBytes).map(_._1).sum
    rep.named("lake_bytes_per_input_byte", lakeBytes.toDouble / inputBytes, "ratio")

    rep.log("reconciled")
    // outputs against the logical corpus kept beside the engine
    val corpus = text.toSeq.toDF("doc_id", "text")
    val probes = (0 until 8).map(i =>
      (i.toLong, RetrievalGen.terms(r, zipf, TestData.vocab))).toDF("probe_id", "terms")
    def rows(df: DataFrame) = df.collect().map(x => x.toSeq.map(_.toString)).toSet
    rep.check("lex_matches_bm25PerQuery",
      rows(LexLake.serve(spark, l.lex, probes, TopN)) ==
        rows(TextStats.bm25PerQuery(corpus, "doc_id", "text", probes, "probe_id", "terms", TopN)),
      "LexLake.serve differs from TextStats.bm25PerQuery over the logical corpus")
    val sample = (0 until 8).map(_ => liveIds(r.nextInt(liveIds.size)))
    val got = VectorLake.searchBatch(spark, l.vector,
        sample.zipWithIndex.map { case (id, i) => (i.toLong, vecs(id).toSeq) }
          .toDF("probe_id", "embedding"), TopN, nprobe = K)
      .select("probe_id", "cos").as[(Long, Double)].collect().groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2).sorted.reverse.toSeq }
    sample.zipWithIndex.foreach { case (id, i) =>
      val want = bruteForce(vecs, vecs(id), TopN)
      val have = got.getOrElse(i.toLong, Seq.empty)
      rep.check(s"vector_matches_brute_force.$i",
        have.size == want.size && have.zip(want).forall { case (a, b) => math.abs(a - b) < 2e-6 },
        s"probe $id: searchBatch cosines $have, brute force $want")
    }
    val leaked = LexLake.serve(spark, l.lex, termProbes(64), NDocs)
      .filter(col("doc_id").isin(purged.toSeq: _*)).count()
    rep.check("no_purged_ids_after_reconcile", leaked == 0, s"$leaked purged rows served")

    if (t.enabled) layers(spark, t, rep, l, overlayRows)
  }

  /** Top-k cosines over the logical vectors, rounded as the lake rounds. */
  private def bruteForce(vecs: collection.Map[Long, Array[Float]], q: Array[Float],
                         k: Int): Seq[Double] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val qn = norm(q)
    vecs.values.map { v =>
      val c = v.indices.map(i => v(i).toDouble * q(i)).sum / (norm(v) * qn)
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toSeq.sorted.reverse.take(k)
  }

  private def dirBytes(root: String): (Long, Long) = {
    val files = Files.walk(Path.of(root)).filter(Files.isRegularFile(_)).toArray
      .map(_.asInstanceOf[Path])
    (files.map(Files.size).sum, files.count(_.toString.endsWith(".parquet")).toLong)
  }

  private def layers(spark: SparkSession, t: Tracer, rep: Report, l: Lakes,
                     overlayRows: Map[String, Long]): Unit = {
    t.finish()
    RetrievalGen.Endpoints.foreach { e =>
      // loop calls are spans named "<endpoint>#b<batch size>"
      val calls = RetrievalGen.BatchSizes.map(b => b -> t.spansNamed(s"$e#b$b")).toMap
      Seq(1, 256).foreach { b =>
        if (calls(b).nonEmpty)
          rep.layer(s"$e.b${b}_p50_s", Stats.median(calls(b).map(_.wallS)), "s")
      }
      val stats = calls.values.flatten.toSeq.map(t.stats)
      val builds = RetrievalGen.BatchSizes.flatMap(b => t.spansNamed(s"$e#b$b.build")).map(t.stats)
      if (stats.nonEmpty) {
        rep.layer(s"$e.build_jobs_per_call", builds.map(_.jobs).sum.toDouble / stats.size, "count")
        rep.layer(s"$e.jobs_per_call", stats.map(_.jobs).sum.toDouble / stats.size, "count")
        rep.layer(s"$e.shuffle_bytes_per_call",
          stats.map(_.shuffleWriteBytes).sum.toDouble / stats.size, "bytes")
      }
    }
    Seq("upsertDocs", "deleteDocs").foreach { op =>
      val s = t.spansNamed(s"domain.LakeSync.$op").map(t.stats)
      if (s.nonEmpty) {
        rep.layer(s"domain.LakeSync.$op.p50_s", Stats.median(s.map(_.wallS)), "s")
        rep.layer(s"domain.LakeSync.$op.jobs_per_call", s.map(_.jobs).sum.toDouble / s.size, "count")
      }
    }
    rep.layer("domain.LexLake.overlay_rows_end", overlayRows("lex"), "count")
    rep.layer("domain.VectorLake.overlay_rows_end", overlayRows("vector"), "count")
    Seq("LexLake" -> l.lex, "VectorLake" -> l.vector, "DedupLake" -> l.dedup).foreach {
      case (lake, root) =>
        // the set-up reconcile and the one after the loop
        val rs = t.spansNamed(s"domain.$lake.reconcile").map(t.stats)
        rep.layer(s"domain.$lake.reconcile_s", rs.last.wallS, "s")
        rep.layer(s"domain.$lake.reconcile_jobs", rs.last.jobs, "count")
        t.spansNamed(s"domain.$lake.ingest").map(t.stats).headOption.foreach(s =>
          rep.layer(s"domain.$lake.ingest_s", s.wallS, "s"))
        val (bytes, files) = dirBytes(root)
        rep.layer(s"domain.$lake.bytes", bytes, "bytes")
        rep.layer(s"domain.$lake.files", files, "count")
    }
    t.spansNamed("operators.Clustering.kmeansCentroids").headOption.foreach(s =>
      rep.layer("operators.Clustering.kmeansCentroids_s", s.wallS, "s"))
    rep.layer("spark.cached_bytes_end",
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum, "bytes")
  }
}
