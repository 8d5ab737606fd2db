package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one local Spark session
  * with one client thread issuing calls in a closed loop.
  *
  *   perfbench.Main --workload imdb_etl --seed 1 --seconds 12 --trace 0 --root DIR
  *
  * Optional: `--scale tiny` (the smoke-test sizes). The last stdout line
  * is the JSON result; everything before it is the human-readable report.
  */
object Main {

  /** The cheapest member of each family in the headline list of
    * `graft.Bench`, so that a run fits its time budget, plus the MinHash
    * curation and incremental-ingest queries, which carry the dedup
    * layer's near-duplicate path (README.md, "Workloads").
    */
  val CatalogQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q22_window_rank", "q62_sessionize", "dd07_incremental",
    "dd14_minhash_curated", "dd16_incr_minhash", "sim01_brute_topk", "tx07_curate",
    "mx01_pack", "ml11_logreg", "mm01_media_features")

  val Spans: Seq[String] = Seq("imdb.generate_dataset", "imdb.save_parquet", "imdb.trends",
    "ml.train_gbt", "ml.evaluate")

  /** Per-span quantities: name, unit, value from a span's counters. */
  val Quantities: Seq[(String, String, Span => Double)] = Seq(
    ("s", "s", _.selfSeconds),
    ("jobs", "count", _.counters.jobs.get.toDouble),
    ("tasks", "count", _.counters.tasks.get.toDouble),
    ("shuffle_mb", "MB", _.counters.shuffleWriteBytes.get / 1e6),
    ("spill_mb", "MB", _.counters.spillBytes.get / 1e6),
    ("cpu_s", "s", _.counters.cpuNs.get / 1e9),
    ("task_wait_s", "s", _.counters.taskWaitMs.get / 1e3),
    ("plan_s", "s", _.counters.planMs.get / 1e3))

  /** Untimed warm-up passes. The count is fixed, like the timed passes'
    * count, so every run has the same structure whatever the host's or
    * the code's speed. One cold pass is what the time budget allows
    * (README.md, "Steadiness" has the drift curves).
    */
  val WarmUpPasses = 1
  val MinTimedPasses = 3

  final case class Metric(name: String, value: Double, unit: String)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def options(argv: Array[String]): String => String = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    k => opts.getOrElse(k, "")
  }

  /** Generates the workload's inputs for `seed` under `work`. Sizes are
    * documented in README.md; `tiny` is the smoke test's.
    */
  def workload(name: String, seed: Long, tiny: Boolean, root: File, work: File,
      expected: Expected): Workload = {
    val input = new File(work, s"input-$seed")
    name match {
      case "imdb_etl" =>
        val (titles, people) = if (tiny) (2000, 800) else (40000, 16000)
        new ImdbEtl(input, work, seed, titles, people, expected)
      case "catalog_short" =>
        new CatalogShort(new File(root, "perfbench/data/sf0.01"), seed,
          if (tiny) CatalogQueries.take(3) else CatalogQueries, expected)
      case other => sys.error(s"unknown workload $other")
    }
  }

  def workDir(root: File, name: String): File = {
    val work = new File(root, s".bench_build/work/$name")
    Workload.delete(work)
    work.mkdirs()
    work
  }

  def main(argv: Array[String]): Unit = {
    val jvmToMain = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val opt = options(argv)
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val tiny = opt("scale") == "tiny"
    val root = new File(opt("root")).getAbsoluteFile
    val work = workDir(root, workloadName)
    val expected = new Expected(new File(root, "perfbench/expected.json"), record = false)

    val genStart = System.nanoTime()
    val workload = Main.workload(workloadName, seed, tiny, root, work, expected)
    val genSeconds = (System.nanoTime() - genStart) / 1e9
    println(f"workload $workloadName seed $seed scale ${if (tiny) "tiny" else "full"} " +
      f"local[$Cores] one client, closed loop; inputs generated in $genSeconds%.2f s")

    // Set-up, cold: JVM start to a session that has made the workload's
    // first library call, leaving out the input generation above.
    val setupStart = System.nanoTime()
    val spark = Session.start(Cores, work)
    workload.setUp(spark)
    val setupS = jvmToMain + (System.nanoTime() - setupStart) / 1e9
    val tracer = new Tracer(spark)

    val ops = mutable.ArrayBuffer.empty[Op]
    var passNo = 0

    /** One pass plus its output check; returns the pass's root span. */
    def runPass(label: String, traced: Boolean): Span = {
      passNo += 1
      if (traced) tracer.attach() else tracer.detach()
      val failure =
        try { tracer.span("pass")(workload.pass(spark, tracer, passNo)); None }
        catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (traced) tracer.drain()
      val root = tracer.roots.last
      val checked = failure match {
        case Some(err) => Seq(Op("pass", Some(err.take(300))))
        case None =>
          try workload.check(spark, passNo)
          catch { case e: Exception => Seq(Op("check", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))) }
      }
      ops ++= checked
      val bad = checked.filter(_.error.nonEmpty)
      println(f"pass $passNo%2d $label%-8s ${root.seconds}%8.3f s  " +
        (if (bad.isEmpty) "ok" else s"FAILED ${bad.map(o => s"${o.name}: ${o.error.get}").mkString("; ")}"))
      root
    }

    // Untimed warm-up passes fill the JIT and codegen caches; the first,
    // cold one's time is reported as bench.warmup_s.
    val warmup = (1 to WarmUpPasses).map(_ => runPass("warm-up", traced = false).seconds).head
    workload.inputs.foreach(l => println(s"  input $l"))

    // Timed passes, closed loop. Their count follows from --seconds and
    // the workload's nominal pass time alone, never from a clock. A
    // traced run alternates traced and untraced passes, starting with a
    // traced one, so the tracing overhead is measured under the same
    // conditions.
    val passes = math.max(MinTimedPasses, math.ceil(seconds / workload.nominalPassS).toInt)
    val timed = (0 until passes).map { i =>
      val traced = trace && i % 2 == 0
      runPass(if (traced) "traced" else "timed", traced) -> traced
    }
    tracer.detach()

    val plain = timed.filterNot(_._2).map(_._1).toSeq
    val passS = median(plain.map(_.seconds))
    // One latency per call (a step, or a query): its median over the
    // timed passes, so the percentiles do not depend on the pass count.
    val callMedians = plain.flatMap(_.children).groupBy(_.name).view
      .mapValues(spans => median(spans.map(_.seconds))).toSeq.sortBy(_._2)
    val calls = callMedians.map(_._2)
    // The LSH ratio comes from an oracle-checked catalog query; a traced
    // run checks its output like any other operation's.
    val lshRatio = workload match {
      case c: CatalogShort if trace =>
        try c.lshVerifiedRatio(spark)
        catch { case e: Exception =>
          ops += Op("dd15_lsh_recall", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
          0.0
        }
      case _ => 0.0
    }
    val failed = ops.count(_.error.nonEmpty)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("pass_s", passS, "s"),
      Metric("call_p50_s", percentile(calls, 0.5), "s"),
      Metric("call_p90_s", percentile(calls, 0.9), "s"),
      Metric("input_rows_per_s", workload.inputRows / passS, "rows/s"))

    println(f"end-to-end ($workloadName, seed $seed): ${plain.size} timed passes, " +
      f"${calls.size} calls, one cold set-up")
    println(f"  JVM to main $jvmToMain%.3f s; warm-up $warmup%.3f s; inputs ${workload.inputRows} rows")
    println("  call medians: " + callMedians.map { case (n, t) => f"$n $t%.3f" }.mkString(", "))
    endToEnd.foreach(m => println(f"  ${m.name}%-18s ${m.value}%14.4f ${m.unit}"))
    workload.figures.foreach { case (k, v) => println(f"  $k%-18s ${v}%14s ratio") }
    println(f"  failed_share       ${failed.toDouble / ops.size}%14.4f ratio ($failed of ${ops.size} operations)")

    val perLayer =
      if (!trace) Nil
      else {
        val traced = timed.filter(_._2).map(_._1).toSeq
        val layer = perLayerMetrics(traced, median(traced.map(_.seconds)) - passS, warmup, lshRatio)
        println(f"per-layer ($workloadName, seed $seed): medians over ${traced.size} traced passes")
        layer.filter(m => m.value != 0.0).foreach(m => println(f"  ${m.name}%-40s ${m.value}%14.4f ${m.unit}"))
        val dump = new File(root, s".bench_build/trace/$workloadName-seed$seed.jsonl")
        dump.getParentFile.mkdirs()
        val w = new PrintWriter(dump)
        try tracer.jsonLines.foreach(w.println) finally w.close()
        println(s"  spans written to ${root.toPath.relativize(dump.toPath)}")
        layer
      }

    spark.stop()
    val metrics = if (trace) perLayer else endToEnd
    val result = Json.mapper.createObjectNode()
      .put("correct", failed == 0).put("attempted", ops.size).put("failed", failed)
    val values = result.putObject("metrics")
    metrics.foreach(m => values.putObject(m.name).put("value", m.value).put("unit", m.unit))
    println(result)
  }

  /** The per-layer table: every span quantity of every layer (0 where
    * this workload does not call the layer), the catalog's per-query
    * times and totals, and the engine-wide figures.
    */
  def perLayerMetrics(traced: Seq[Span], overhead: Double, warmup: Double,
      lshRatio: Double): Seq[Metric] = {
    def perPass(f: Span => Double)(names: String => Boolean): Double =
      median(traced.map(p => p.children.filter(c => names(c.name)).map(f).sum))
    val spans = for (span <- Spans; (q, unit, f) <- Quantities)
      yield Metric(s"$span.$q", perPass(f)(_ == span), unit)
    val queries = CatalogQueries.map(n => Metric(s"queries.$n.s", perPass(_.selfSeconds)(_ == s"queries.$n"), "s"))
    val allQueries = Quantities.filter(_._1 != "s").map { case (q, unit, f) =>
      Metric(s"queries.all.$q", perPass(f)(_.startsWith("queries.")), unit)
    }
    def allSpans(s: Span): Seq[Span] = s +: s.children.toSeq.flatMap(allSpans)
    val failedTasks = traced.flatMap(allSpans).map(_.counters.failedTasks.get).sum.toDouble
    spans ++ queries ++ allQueries ++ Seq(
      Metric("engine.failed_tasks", failedTasks, "count"),
      Metric("engine.retained_heap_mb", Session.retainedHeapMb(), "MB"),
      Metric("dedup.lsh_verified_ratio", lshRatio, "ratio"),
      Metric("bench.warmup_s", warmup, "s"),
      Metric("bench.trace_overhead_s", overhead, "s"))
  }
}

object Session {
  /** The benchmark's session: local, at most four cores, every file it
    * writes kept under the run's work directory.
    */
  def start(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap still in use after a full collection, in MB: what the passes
    * left behind (cached or checkpointed data, memos, plan caches). The
    * resident-set peak is not reported: it follows the collector's
    * sizing policy and moved by a third between identical runs.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}
