package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

trait Workload {
  def run(ctx: Ctx): Unit
}

/** Benchmark entry point: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints a human-readable report and, as the
  * last line, one JSON object with `correct`, `attempted`, `failed` and
  * `metrics` (end-to-end metrics untraced, per-layer metrics traced). */
object Main {
  val workloads: Map[String, Workload] = Map(
    "etl_daily" -> EtlDaily,
    "curation_batch" -> CurationBatch)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val workload = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath

    val t0 = System.nanoTime()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) new SpanTracer(spark, cores) else NoTrace
    val ctx = new Ctx(spark, work, seed, seconds, tracer)
    ctx.sessionStartS = (System.nanoTime() - t0) / 1e9

    val runStart = System.nanoTime()
    workload.run(ctx)
    val runS = (System.nanoTime() - runStart) / 1e9

    val secs = ctx.ops.map(_.seconds).toSeq
    val attempted = ctx.ops.size
    val failed = ctx.ops.count(!_.ok)
    val setupS = ctx.sessionStartS + Harness.median(ctx.setupReps.toSeq) + ctx.warmupS
    val p50 = Harness.median(secs)
    val rowsPerS = ctx.ops.map(_.rows).sum / secs.sum
    val rss = Harness.peakRssMb()
    val p90 = Harness.quantile(secs, 0.9)
    val beyond90 = secs.count(_ > p90)

    println(f"[perfbench] workload=$name seed=$seed trace=$trace ops=$attempted " +
      f"failed=$failed failed_ratio=${failed.toDouble / math.max(1, attempted)}%.4f")
    println(f"[perfbench] setup_s=$setupS%.3f (session ${ctx.sessionStartS}%.3f, " +
      f"setup reps ${ctx.setupReps.map(s => f"$s%.3f").mkString("/")}, warm-up ${ctx.warmupS}%.3f)")
    println(f"[perfbench] op_p50_s=$p50%.4f op_p90_s=$p90%.4f (${beyond90} of ${secs.size} ops beyond p90" +
      (if (beyond90 < 10) "; too few for a p90" else "") + f") rows_per_s=$rowsPerS%.1f " +
      f"peak_rss_mb=$rss%.1f")
    println(f"[perfbench] timed region ${ctx.timedS}%.3f s over ${ctx.groups} round(s); " +
      f"end-of-run checks ${runS - ctx.timedS - Harness.total(ctx.setupReps) - ctx.warmupS}%.3f s")
    ctx.exact.foreach { case (k, v) => println(s"[perfbench] exact $k=$v") }
    ctx.problems.foreach(p => println(s"[perfbench] problem: $p"))

    val metrics: Seq[(String, (Double, String))] = tracer match {
      case t: SpanTracer =>
        t.close()
        val traces = Paths.get(opts("traces"))
        java.nio.file.Files.createDirectories(traces)
        t.writeSpans(traces.resolve(s"spans-$name-$seed.jsonl"))
        val s = t.summary()
        ctx.exact.foreach { case (k, v) => s(k) = v }
        Layers.report(name, s)
        Layers.metrics.map { case (k, unit) => k -> (s.getOrElse(k, 0.0), unit) }
      case _ =>
        Seq("setup_s" -> (setupS, "s"), "op_p50_s" -> (p50, "s"),
          "rows_per_s" -> (rowsPerS, "1/s"), "peak_rss_mb" -> (rss, "MB"))
    }
    val correct = failed == 0 && ctx.problems.isEmpty && attempted > 0
    val m = metrics.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) }
    spark.stop()
    println(Harness.json(Seq("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> m)))
  }

}
