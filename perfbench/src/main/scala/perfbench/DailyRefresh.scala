package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.{Pipeline, Schemas}
import graft.sources.{Csv, Warehouse}

/** One generated day: its CSV directory and the batch written there. */
final case class Extract(dir: File, batch: BikesGen.Batch)

/** The nightly refresh of the paper: seeded source extracts loaded
  * through `Pipeline.runDailyCat` into a catalog-tier warehouse, with
  * every day's star schema checked against [[BikesModel]].
  */
final class BikesWarehouse(ctx: Ctx, root: File) {
  val wh: Warehouse = Warehouse(root.getPath)
  val model = new BikesModel
  private val inputRoot = new File(ctx.work, "input")
  private def spark = ctx.spark

  /** Generate and write day `day`'s extract (untimed). */
  def prepare(day: Int): Extract = {
    val b = BikesGen.batch(ctx.seed, day)
    val dir = new File(inputRoot, s"day=$day")
    BikesGen.write(b, dir)
    Extract(dir, b)
  }

  /** Set-up: check the generator, then run the base load (its rows
    * are checked by the first day's verification, which covers them).
    * Returns the next day to run and its prepared extract.
    */
  def build(): Extract = {
    ctx.log("session ready")
    val base = prepare(0)
    GenCheck.bikes(ctx, base.batch)
    ctx.log("base extract written, generator checked")
    refresh(base)
    model.apply(base.batch)
    ctx.log("base loaded")
    prepare(1)
  }

  def inputs(dir: File): Pipeline.Inputs = {
    def t(name: String, schema: org.apache.spark.sql.types.StructType) =
      Csv.read(spark, new File(dir, name).getPath, schema)
    Pipeline.Inputs(t("customer", Schemas.customer),
      t("address", Schemas.address),
      t("business_partner", Schemas.businessPartner),
      t("product_category", Schemas.productCategory),
      t("product", Schemas.product),
      t("product_detail", Schemas.productDetail), t("store", Schemas.store),
      t("sales_order", Schemas.salesOrder),
      t("sales_order_items", Schemas.salesOrderItems))
  }

  /** Run the refresh of extract `e`; returns the nanoTime at which the
    * catalog commit began. The caller applies `e` to the model.
    */
  def refresh(e: Extract): Long = {
    var commitAt = 0L
    Pipeline.runDailyCat(spark, wh, inputs(e.dir), e.batch.asOf.toString,
      beforeCommit = () => commitAt = System.nanoTime())
    commitAt
  }

  /** Compare every checked table, read through the catalog, with the
    * model; returns one message per mismatch.
    */
  def verify(label: String): Seq[String] = {
    val expected = model.expected
    val parts: Seq[DataFrame] = expected.map { t =>
      val row = concat_ws("|", t.cols.map(c => col(c).cast("string")): _*)
      catRead(t.table)
        .agg(count(lit(1)).as("n"),
          coalesce(sum(crc32(row.cast("binary"))), lit(0L)).as("s"))
        .select(lit(t.table).as("t"), col("n"), col("s"))
    }
    val got = parts.reduce(_ unionByName _).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    expected.flatMap { t =>
      val (n, s) = got(t.table)
      if (n == t.rows && s == t.sum) Nil
      else Seq(s"$label: ${t.table} has $n rows / checksum $s, " +
        s"expected ${t.rows} / ${t.sum}")
    }
  }

  /** catRead calls the checks made: (count, total ms, files scanned). */
  var reads: (Int, Double, Int) = (0, 0.0, 0)

  /** A catalog read, timed: the read path the dashboards use. */
  private def catRead(table: String): DataFrame = {
    val t0 = System.nanoTime()
    val df = wh.catRead(spark, table)
    val ms = (System.nanoTime() - t0) / 1e6
    reads = (reads._1 + 1, reads._2 + ms, reads._3 + df.inputFiles.length)
    df
  }

  /** Every commit in the table logs, as (table, version, operation). */
  def commits: Set[(String, Int, String)] =
    wh.catSnapshot().keys.toSet.flatMap((t: String) =>
      wh.casHistory(t).map(c => (t, c.version, c.operation)))

  /** Data files under the warehouse (the memoization guard's count). */
  def dataFiles: Set[String] =
    Files.walk(root).map(_.getPath).filter(_.endsWith(".parquet")).toSet

  /** (bytes on disk, bytes of the catalog head's live versions). */
  def storage: (Long, Long) = {
    val live = wh.catSnapshot().keys.toSeq.flatMap { t =>
      wh.catRead(spark, t).inputFiles.toSeq
    }.distinct.map(u => new File(new java.net.URI(u)).length).sum
    (Files.bytes(root), live)
  }
}

object DailyRefresh {
  private val fact = Set("dw_prdct_sm_fct", "dw_ordr_sm_fct",
    "dw_ordr_dtl_fct")

  /** The pipeline phase a warehouse table's write belongs to. */
  def phaseOf(table: String): String =
    if (table == "ods_product_hist") "etl.scd2_publish"
    else if (table.startsWith("ods_")) "etl.scd1_publish"
    else if (fact(table)) "etl.fact_publish"
    else "etl.dim_publish"

  /** Rebuild one refresh's phase spans from the SQL executions it ran:
    * each execution belongs to the phase of the table it writes, or of
    * the next write that follows it; consecutive executions of one
    * phase form one span. Constraint-gate executions become child
    * spans of their phase, and the catalog commit is the interval from
    * the pipeline's commit hook to the end of the call.
    */
  def attribute(t: OpTrace, execs: Seq[SqlExec], msToNs: Long => Long,
      commitAt: Long, end: Long): Unit = {
    var pending = List.empty[SqlExec]
    val runs = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[SqlExec])]
    execs.foreach { x =>
      x.table match {
        case Some(tb) =>
          val ph = phaseOf(tb)
          val group = (x :: pending).reverse
          pending = Nil
          if (runs.nonEmpty && runs.last._1 == ph)
            runs(runs.size - 1) = (ph, runs.last._2 ++ group)
          else runs += ((ph, group))
        case None => pending = x :: pending
      }
    }
    runs.foreach { case (ph, xs) =>
      t.add(ph, msToNs(xs.head.start), msToNs(xs.map(_.end).max))
      xs.filter(_.constraintGate).foreach(g =>
        t.add("sources.constraint_check", msToNs(g.start), msToNs(g.end),
          Some(ph)))
    }
    if (commitAt > 0) t.add("sources.cat_commit", commitAt, end)
  }

  def run(ctx: Ctx): Seq[Metric] = {
    val root = new File(ctx.work, "warehouse")
    val bw = new BikesWarehouse(ctx, root)
    // the base load is the untimed first refresh
    var next = bw.build()
    var day = 1
    val landed = scala.collection.mutable.ArrayBuffer.empty[Int]
    val removed = scala.collection.mutable.ArrayBuffer.empty[Int]
    var rewrites = 0

    /** One refresh day as operation `id`, then its memoization guard
      * and its checks (untimed); `fail` records a failed check.
      */
    def refreshDay(id: String, fail: String => Unit): Unit = {
      val cat0 = bw.wh.catHead
      val files0 = bw.dataFiles
      val commits0 = bw.commits
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      ctx.timed(id) { _ =>
        val commitAt = bw.refresh(next)
        (commitAt, System.nanoTime(), System.currentTimeMillis())
      }.filter(_ => ctx.tracing).foreach { case (commitAt, end, ms1) =>
        // the listener is drained once the op returns
        attribute(new OpTrace(ctx.tracer, id, true),
          ctx.listener.execsBetween(ms0, ms1),
          ms => ns0 + (ms - ms0) * 1000000L, commitAt, end)
      }
      bw.model.apply(next.batch)
      // memoization guard: a real refresh publishes a new catalog
      // version and lands new data files
      val files1 = bw.dataFiles
      landed += (files1 -- files0).size
      removed += (files0 -- files1).size
      rewrites += (bw.commits -- commits0).count(_._3 == "REWRITE")
      if (bw.wh.catHead != cat0 + 1)
        fail(s"$id did not advance the catalog " +
          s"($cat0 -> ${bw.wh.catHead})")
      if (landed.last == 0) fail(s"$id landed no new data files")
      ctx.log(s"$id refreshed")
      bw.verify(id).foreach(fail)
      ctx.log(s"$id verified")
      day += 1
      next = bw.prepare(day)
    }

    // warm-up: one untimed day, so that every timed day follows a
    // day of its own kind (the base load is a full first load)
    refreshDay("warmup", ctx.fail)
    ctx.discard()
    landed.clear()
    removed.clear()
    rewrites = 0
    bw.reads = (0, 0.0, 0)
    val setupS = Main.sinceJvmStart
    val tm = System.nanoTime()
    while (!ctx.done(tm)) {
      val id = s"day$day"
      refreshDay(id, ctx.failOp(id, _))
    }
    val (disk, live) = bw.storage
    val out = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Stats.median(ctx.samples.map(_.ms).toSeq), "ms"),
      Metric("storage_amp", disk.toDouble / live, "ratio"))
    if (!ctx.tracing) out
    else out ++ RefreshTrace.metrics(ctx, landed.toSeq, removed.toSeq,
      rewrites, disk - live, bw.reads)
  }
}

/** The refresh's per-layer metrics, per timed day of a traced run. */
object RefreshTrace {
  /** `landed` / `removed` are the data files each timed day added to /
    * deleted from the warehouse, `rewrites` the REWRITE commits (the
    * optimize pass) the timed days added to the table logs, and
    * `reads` the catalog reads of the day checks.
    */
  def metrics(ctx: Ctx, landed: Seq[Int], removed: Seq[Int],
      rewrites: Int, deadBytes: Long,
      reads: (Int, Double, Int)): Seq[Metric] = {
    val ops = ctx.samples.toSeq
    val n = ops.size.max(1).toDouble
    val self = ctx.tracer.selfMs
    def perDayS(name: String) = self.getOrElse(name, 0.0) / n / 1000.0
    Seq(
      Metric("etl.scd1_publish_s", perDayS("etl.scd1_publish"), "s"),
      Metric("etl.scd2_publish_s", perDayS("etl.scd2_publish"), "s"),
      Metric("etl.fact_publish_s", perDayS("etl.fact_publish"), "s"),
      Metric("etl.dim_publish_s", perDayS("etl.dim_publish"), "s"),
      Metric("sources.constraint_check_s",
        perDayS("sources.constraint_check"), "s"),
      Metric("sources.cat_commit_ms",
        self.getOrElse("sources.cat_commit", 0.0) / n, "ms"),
      Metric("refresh.unattributed_s", perDayS("op"), "s"),
      Metric("sources.write_task_s",
        ops.map(_.work.writeTaskMs).sum / n / 1000.0, "s"),
      Metric("ops.compute_task_s",
        ops.map(_.work.computeTaskMs).sum / n / 1000.0, "s"),
      Metric("sources.bytes_written_per_refresh",
        ops.map(_.work.outputBytes).sum / n, "bytes"),
      Metric("sources.files_written_per_refresh",
        landed.sum / n, "count"),
      Metric("sources.files_removed_per_refresh", removed.sum / n,
        "count"),
      Metric("sources.dead_version_bytes", deadBytes.toDouble, "bytes"),
      Metric("sources.optimize_runs", rewrites.toDouble, "count"),
      Metric("sources.cat_read_ms", reads._2 / reads._1.max(1), "ms"),
      Metric("sources.files_per_scan",
        reads._3.toDouble / reads._1.max(1), "count"))
  }
}
