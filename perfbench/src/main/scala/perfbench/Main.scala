package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** The benchmark program: one workload, one seed, one measurement
  * window.
  *
  * {{{
  * perfbench.Main --workload <daily_refresh|corpus_dedup>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --spans <file>
  * }}}
  *
  * Prints one `name value unit` line per metric, then the result as
  * one JSON object prefixed by `RESULT `. With `--trace 0` the metrics
  * are the end-to-end ones; with `--trace 1` every operation runs
  * traced, the per-layer metrics are printed instead (with the traced
  * median latency, whose difference from `op_p50_ms` is the tracing
  * overhead), and the spans are written to the `--spans` file.
  */
object Main {
  val workloads: Map[String, Ctx => Seq[Metric]] = Map(
    "daily_refresh" -> DailyRefresh.run,
    "corpus_dedup" -> CorpusDedup.run)

  /** Seconds since this JVM started. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1000.0

  /** Per-layer metrics every workload reports (zero where a workload
    * does not reach the layer).
    */
  val perLayer: Seq[(String, String)] = Seq(
    "etl.scd1_publish_s" -> "s", "etl.scd2_publish_s" -> "s",
    "etl.fact_publish_s" -> "s", "etl.dim_publish_s" -> "s",
    "sources.constraint_check_s" -> "s", "sources.cat_commit_ms" -> "ms",
    "refresh.unattributed_s" -> "s", "sources.write_task_s" -> "s",
    "ops.compute_task_s" -> "s",
    "sources.bytes_written_per_refresh" -> "bytes",
    "sources.files_written_per_refresh" -> "count",
    "sources.files_removed_per_refresh" -> "count",
    "sources.dead_version_bytes" -> "bytes",
    "sources.optimize_runs" -> "count",
    "sources.cat_read_ms" -> "ms", "sources.files_per_scan" -> "count",
    "functions.minhash_sig_s" -> "s", "text.band_candidates_s" -> "s",
    "text.candidate_pairs" -> "count",
    "text.candidate_useful_ratio" -> "ratio", "ops.components_s" -> "s",
    "sim.semantic_dedup_s" -> "s",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.task_busy_share" -> "ratio",
    "spark.shuffle_bytes_per_op" -> "bytes",
    "spark.bytes_read_per_op" -> "bytes", "jvm.gc_ms_per_op" -> "ms",
    "trace.op_p50_ms" -> "ms")

  private def arg(argv: Array[String], k: String): String = {
    val i = argv.indexOf(k)
    require(i >= 0 && i + 1 < argv.length, s"missing $k")
    argv(i + 1)
  }

  def session(cores: Int, work: File): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir",
        new File(work, "spark-warehouse").getPath)
    graft.SessionTuning.withAqe(b).getOrCreate()
  }

  /** Spark-side counters per operation, for any workload. */
  private def sparkMetrics(ctx: Ctx): Seq[Metric] = {
    val ops = ctx.samples.toSeq
    val n = ops.size.max(1).toDouble
    val wallMs = ops.map(_.ms).sum
    Seq(
      Metric("spark.jobs_per_op", ops.map(_.work.jobs).sum / n, "count"),
      Metric("spark.tasks_per_op", ops.map(_.work.tasks).sum / n,
        "count"),
      Metric("spark.task_busy_share",
        if (wallMs <= 0) 0.0
        else ops.map(_.work.taskRunMs).sum / (wallMs * ctx.cores),
        "ratio"),
      Metric("spark.shuffle_bytes_per_op",
        ops.map(_.work.shuffleBytes).sum / n, "bytes"),
      Metric("spark.bytes_read_per_op",
        ops.map(_.work.inputBytes).sum / n, "bytes"),
      Metric("jvm.gc_ms_per_op", ops.map(_.gcMs).sum / n, "ms"),
      Metric("trace.op_p50_ms",
        if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.ms)), "ms"))
  }

  /** Registry queries (`graft.queries.*`) memoize their artifacts per
    * session (`SessionScratch.once`, `Materialized`), so none may run
    * inside a timed operation: the guard is that no class of that
    * package was ever loaded.
    */
  private def registryGuard(ctx: Ctx): Unit = {
    val loader = getClass.getClassLoader
    val find = classOf[ClassLoader].getDeclaredMethod("findLoadedClass",
      classOf[String])
    find.setAccessible(true)
    val dir = Option(loader.getResource("graft/queries"))
      .map(u => new File(u.toURI))
    val names = dir.toSeq.flatMap(d => Option(d.list()).toSeq.flatten)
      .filter(_.endsWith(".class"))
      .map("graft.queries." + _.stripSuffix(".class"))
    if (names.isEmpty) ctx.fail("registry guard: graft.queries not found")
    names.filter(n => find.invoke(loader, n) != null).foreach(n =>
      ctx.fail(s"registry query class $n was loaded during the run"))
  }

  private def json(m: Metric): String = {
    val v = if (m.value.isNaN || m.value.isInfinite) "null"
      else java.math.BigDecimal.valueOf(m.value).toPlainString
    s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
  }

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "--workload")
    val run = workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; one of " +
        workloads.keys.toSeq.sorted.mkString(", ")))
    val seed = arg(argv, "--seed").toLong
    val seconds = arg(argv, "--seconds").toInt
    val tracing = arg(argv, "--trace") == "1"
    val work = new File(arg(argv, "--work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()
    work.mkdirs()
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("WARN")
    val listener = new WorkListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, listener, new Tracer, work, seed, seconds,
      cores, tracing)
    val own =
      try run(ctx)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          ctx.fail(s"$workload aborted: $e")
          Nil
      }
    registryGuard(ctx)
    val attempted = ctx.attempted.max(1L)
    val failed = ctx.failedOps.min(attempted)
    val e2e = own.filterNot(_.name.contains(".")) :+
      Metric("ok_ops_ratio", 1.0 - failed.toDouble / attempted, "ratio")
    val metrics =
      if (!tracing) e2e
      else {
        val got = (own ++ sparkMetrics(ctx)).map(m => m.name -> m).toMap
        perLayer.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
      }
    if (tracing) ctx.tracer.write(new File(arg(argv, "--spans")))
    spark.stop()
    val correct = own.nonEmpty && ctx.failed.isEmpty
    println(s"workload $workload seed $seed: ${ctx.attempted} operations, " +
      s"$failed failed (failed_ops_ratio ${failed.toDouble / attempted})")
    println("  operation ms: " + ctx.samples.map(o => f"${o.ms}%.0f")
      .mkString(" "))
    metrics.foreach(m =>
      println(f"  ${m.name}%-36s ${m.value}%.6g ${m.unit}"))
    println("RESULT {\"correct\": " + correct + ", \"attempted\": " +
      attempted + ", \"failed\": " + failed + ", \"metrics\": {" +
      metrics.map(json).mkString(", ") + "}}")
  }
}
