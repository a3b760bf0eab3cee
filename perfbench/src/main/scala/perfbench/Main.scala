package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one seed, traced or not. `run.py` builds
  * it and launches it; see perfbench/README.md.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  * --cache DIR --expected DIR [--record] [--commit SHA]
  *
  * Prints a `context` line (what the run ran on), a `details` line, and as
  * its last line the result object: `correct`, `attempted`, `failed` and
  * `metrics` (end-to-end metrics untraced, per-layer metrics traced). */
object Main {

  val workloads: Seq[String] = Seq("steam_day", "query_mix", "retrieval_serve")

  private def loadAvg: String =
    try java.nio.file.Files.readString(java.nio.file.Path.of("/proc/loadavg"))
      .trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "unknown" }

  /** Heap in use after a forced collection, in MB: the least of five
    * readings, each after a collection and a short pause, so blocks the
    * engine releases asynchronously are gone before the reading counts. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** Spark runtime totals over the run's measured calls (top-level spans,
    * set-up excluded): the same definitions on every workload. */
  private def runtimeLayers(t: Tracer, rep: Report): Unit = {
    t.finish()
    val calls = t.allSpans.filter(s => s.parent.isEmpty && !s.name.startsWith("setup"))
      .map(t.stats)
    rep.layer("spark.jobs", calls.map(_.jobs).sum, "count")
    rep.layer("spark.stages", calls.map(_.stages).sum, "count")
    rep.layer("spark.tasks", calls.map(_.tasks).sum, "count")
    rep.layer("spark.executor_run_s", calls.map(_.executorRunS).sum, "s")
    rep.layer("spark.shuffle_write_bytes", calls.map(_.shuffleWriteBytes).sum, "bytes")
    rep.layer("spark.input_bytes", calls.map(_.inputBytes).sum, "bytes")
    rep.layer("spark.spill_bytes", calls.map(_.spillBytes).sum, "bytes")
    rep.layer("driver.gap_s", calls.map(_.driverGapS).sum, "s")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opts("workload")
    require(workloads.contains(workload),
      s"unknown workload '$workload' (known: ${workloads.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cache = opts("cache")
    val expectedDir = opts("expected")
    val record = flags("record")
    val cores = Runtime.getRuntime.availableProcessors().toString

    val rep = new Report
    val loadBefore = loadAvg
    val spark = graft.GraftSession.create(cores)
    rep.log("session up")
    val tracer = new Tracer(spark, traced)
    val t0 = System.nanoTime()
    try {
      workload match {
        case "steam_day" => SteamDay.run(spark, tracer, rep, seed, seconds, work)
        case "query_mix" => QueryMix.run(spark, tracer, rep, seed,
          QueryMix.ensureData(spark, cache), s"$expectedDir/query_mix.tsv", record)
        case "retrieval_serve" => RetrievalServe.run(spark, tracer, rep, seed, seconds, work)
      }
    } catch {
      case e: Throwable =>
        // a workload that could not finish is a failed run, reported as such
        rep.attempted += 1
        rep.failed += 1
        rep.check("workload_completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (traced) runtimeLayers(tracer, rep)
    // a failed query would drop its row, so only a clean run is recorded
    if (record && rep.failed == 0) java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$expectedDir/query_mix.tsv"),
      "# query\trows\tdigest (written by run.py --record)\n" +
        rep.details.collect { case (k, v) if k.startsWith("expected.") =>
          k.stripPrefix("expected.") + "\t" + v + "\n" }.toSeq.sorted.mkString)
    rep.e2e("retained_heap_mb", retainedHeapMb(), "MB")
    rep.e2e("ok_ratio",
      if (rep.attempted == 0) 0.0 else (rep.attempted - rep.failed).toDouble / rep.attempted,
      "ratio")
    spark.stop()
    rep.log("session stopped")

    val context = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "traced" -> traced.toString, "nproc" -> cores,
      "loadavg_before" -> Json.str(loadBefore), "loadavg_after" -> Json.str(loadAvg),
      "commit" -> Json.str(opts.getOrElse("commit", "unknown")),
      "spark_version" -> Json.str(spark.version),
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "workload_wall_s" -> Json.num(wall))
    println("context " + Json.obj(context))
    val failedChecks = rep.checks.filterNot(_._2._1)
    println("details " + Json.obj(
      rep.details.map { case (k, v) => k -> Json.str(v) } ++
        Seq("workload_metrics" -> Json.metrics(rep.workloadMetrics),
          "checks_run" -> rep.checks.size.toString,
          "checks_failed" -> Json.obj(failedChecks.map { case (k, v) => k -> Json.str(v._2) }),
          "end_to_end_traced" -> (if (traced) Json.metrics(rep.endToEnd) else "null"))))
    val metrics = if (traced) rep.perLayer else rep.endToEnd
    val correct = failedChecks.isEmpty && rep.failed == 0 && rep.attempted > 0
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, rep.attempted).toString,
      "failed" -> rep.failed.toString,
      "metrics" -> Json.metrics(metrics))))
  }
}
