package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.VersionedTable
import graft.gold.{CustomerLifetimeValue, DailySales}
import graft.model.Schemas
import graft.pipeline.Medallion

/** `medallion_batch`: a closed loop with one caller. Each rep runs the whole
  * medallion (landed → bronze → DQ-gated silver → both gold tables) into a
  * fresh lake root over the same staged window; the next rep starts when the
  * previous one returns.
  */
object BatchWorkload {

  /** Untimed reps before measuring: class loading, JIT and Spark's first-action
    * costs land here instead of in the first measured rep.
    */
  val WarmupReps = 4
  /** A run measures at least this many reps, however short `--seconds` is. */
  val MinReps = 3

  private final case class Input(orders: DataFrame, customers: DataFrame,
      orderRows: Long, rows: Long, bytes: Long)

  private def input(ctx: RunCtx): Input = {
    val ordersDir = s"${ctx.staged}/orders"
    val customersFile = s"${ctx.staged}/customers.jsonl"
    val orders = ctx.spark.read.schema(Schemas.orders).json(ordersDir)
    val customers = ctx.spark.read.schema(Schemas.customers).json(customersFile)
    val orderRows = orders.count()
    Input(orders, customers, orderRows, orderRows + customers.count(),
      Lake.usage(ordersDir).bytes + new File(customersFile).length())
  }

  /** [[Medallion.run]]'s steps called one by one, each under a span named
    * after the step; same calls, same order, same arguments. [[run]] checks
    * every traced rep against the untraced rep before it ([[written]]), so a
    * change to `Medallion.run` that this copy misses fails the traced run.
    */
  private def tracedRun(ctx: RunCtx, in: Input, root: String): Medallion.RunSummary = {
    val (spark, t, p) = (ctx.spark, ctx.tracer, Medallion.Paths(root))
    val bronzeRows = t.span("pipeline.to_bronze") {
      val n = Medallion.toBronze(in.orders, p.bronze,
        partitionDate = Some(to_date(col("order_date"))))
      Medallion.toBronze(in.customers, p.customersBronze)
      n
    }
    val (_, custOk, custRows) = t.span("pipeline.customers_to_silver") {
      Medallion.customersToSilver(spark, p.customersBronze, p)
    }
    if (!custOk) return Medallion.RunSummary(bronzeRows, 0L, 0L, true, 0L, 0L)
    val (silverCustomers, (_, ok, silverRows)) = t.span("pipeline.to_silver") {
      val sc = VersionedTable.read(spark, p.customersSilver)
        .select("customer_id", "name", "email", "region", "customer_tenure_days")
      (sc, Medallion.toSilver(spark, p.bronze, sc, p))
    }
    if (!ok) return Medallion.RunSummary(bronzeRows, 0L, custRows, true, 0L, 0L)
    val (ds, clv) = t.span("pipeline.to_gold") {
      Medallion.toGold(spark, p.silver, silverCustomers, p)
    }
    Medallion.RunSummary(bronzeRows, silverRows, custRows, false, ds, clv)
  }

  /** What a rep left under `root`: per table (relative to `root`), its
    * commits' version, operation, partitioning and row count; and the number
    * of files on disk.
    */
  private def written(ctx: RunCtx, root: String): (Seq[String], Lake.Usage) = {
    val prefix = new File(root).getAbsolutePath + "/"
    (Lake.commits(ctx.spark, root).map { case (t, c) =>
      s"${t.stripPrefix(prefix)} v${c.version} ${c.operation} [${c.partition_by}] ${c.row_count}"
    }, Lake.usage(root))
  }

  /** Gold must equal DailySales / CustomerLifetimeValue computed straight from
    * the staged input (no bronze, no silver, no DQ).
    */
  def gate(in: (DataFrame, DataFrame), p: Medallion.Paths): Seq[(String, Boolean, String)] = {
    val (orders, customers) = in
    val spark = orders.sparkSession
    val (dsOk, dsWhy) = Gates.sameRows(DailySales(orders, customers),
      VersionedTable.read(spark, p.goldDailySales))
    val (clvOk, clvWhy) = Gates.sameRows(CustomerLifetimeValue(orders, customers),
      VersionedTable.read(spark, p.goldClv))
    Seq(("gold daily_sales = DailySales(input)", dsOk, dsWhy),
      ("gold customer_lifetime_value = CustomerLifetimeValue(input)", clvOk, clvWhy))
  }

  def run(ctx: RunCtx): Unit = {
    val res = ctx.res
    val setupStart = System.nanoTime()
    val in = input(ctx)
    res.context("staging_s") = ctx.elapsedS(setupStart)
    (0 until WarmupReps).foreach { w =>
      Medallion.run(ctx.spark, in.orders, in.customers, s"${ctx.lake}/warmup-$w")
      Lake.delete(s"${ctx.lake}/warmup-$w")
    }
    res.values("setup_s") = res.values("session_s") + ctx.elapsedS(setupStart)

    val latency = ArrayBuffer.empty[(Boolean, Double)]
    val usage = ArrayBuffer.empty[Lake.Usage]
    val commitRows = ArrayBuffer.empty[(Long, Long)] // (commits, rows committed)
    // DQ runs inside Medallion.toSilver: its time is the wall time of the
    // jobs the dq layer ran, per traced rep
    val dqSeconds = ArrayBuffer.empty[Double]
    def dqJobMs = ctx.counters.synchronized(ctx.counters.jobMsByLayer("dq"))
    val measureStart = System.nanoTime()
    var i = 0
    var lastRoot = ""
    var lastUntraced = (Seq.empty[String], 0L) // commits, files
    while (i < MinReps || ctx.elapsedS(measureStart) < ctx.seconds) {
      // a traced run alternates untraced and traced reps: the pair of medians
      // is the tracing overhead, and the traced reps give the layer split
      val traced = ctx.trace && i % 2 == 1
      val root = s"${ctx.lake}/rep-$i"
      ctx.tracer.on = traced
      val dqBefore = dqJobMs
      val spansBefore = ctx.tracer.recorded
      val t0 = System.nanoTime()
      val s =
        if (traced) tracedRun(ctx, in, root)
        else Medallion.run(ctx.spark, in.orders, in.customers, root)
      val seconds = ctx.elapsedS(t0)
      ctx.tracer.on = false
      res.check(s"rep $i", !s.quarantined && s.silverRows == in.orderRows &&
          s.bronzeRows == in.orderRows && s.dailySalesRows > 0 && s.clvRows > 0,
        s"rep $i summary $s, ${in.orderRows} orders landed")
      val (commits, u) = written(ctx, root)
      if (traced) {
        ctx.counters.drain()
        dqSeconds += (dqJobMs - dqBefore) / 1e3
        res.check(s"rep $i: traced steps write what Medallion.run writes",
          (commits, u.files) == lastUntraced,
          s"traced ${commits.mkString("; ")} (${u.files} files); untraced " +
            s"${lastUntraced._1.mkString("; ")} (${lastUntraced._2} files)")
        val spanSum = ctx.tracer.sumFrom(spansBefore)
        res.check(s"rep $i: pipeline spans within 10% of its latency",
          math.abs(spanSum - seconds) <= 0.1 * seconds,
          f"spans sum to $spanSum%.3fs, rep took $seconds%.3fs")
      } else lastUntraced = (commits, u.files)
      latency += ((traced, seconds))
      usage += u
      val cs = Lake.commits(ctx.spark, root)
      commitRows += ((cs.size.toLong, cs.map(_._2.row_count).sum))
      if (lastRoot.nonEmpty) Lake.delete(lastRoot)
      lastRoot = root
      i += 1
    }

    gate((in.orders, in.customers), Medallion.Paths(lastRoot))
      .foreach { case (n, ok, why) => res.check(n, ok, why) }

    val untraced = latency.filterNot(_._1).map(_._2).toSeq
    val traced = latency.filter(_._1).map(_._2).toSeq
    val reps = latency.size.toDouble
    res.samples("latency_s") = untraced
    res.samples("traced_latency_s") = traced
    res.values("rows_per_s") = in.orderRows * reps / latency.map(_._2).sum
    val (bytes, files) = (median(usage.map(_.bytes.toDouble).toSeq),
      median(usage.map(_.files.toDouble).toSeq))
    res.values("write_amp") = bytes / in.bytes
    res.values("files_per_krow") = files / (in.rows / 1e3)

    // every rep writes fresh tables, so each commit is also a new log version
    res.values("catalog.commits") = median(commitRows.map(_._1.toDouble).toSeq)
    res.values("catalog.log_versions") = res.values("catalog.commits")
    res.values("catalog.files_written") = files
    res.values("catalog.bytes_written") = bytes
    res.values("catalog.rows_rewritten_per_changed_row") =
      median(commitRows.map(_._2.toDouble).toSeq) / in.rows
    res.values("dq.quarantined_ratio") = 0.0
    res.samples("dq.validate_s") = dqSeconds.toSeq
    res.values("gold.view_rows") =
      VersionedTable.read(ctx.spark, Medallion.Paths(lastRoot).goldDailySales).count().toDouble
    Seq("to_bronze", "customers_to_silver", "to_silver", "to_gold").foreach { s =>
      res.samples(s"pipeline.${s}_s") = ctx.tracer.durations(s"pipeline.$s")
    }
    StreamWorkloads.engineAndSelf(ctx, traced.size)
  }

  /** The gate must catch a wrong gold table: run once, check the intact gold,
    * shift one daily_sales revenue by one cent, check again.
    */
  def gateSelfTest(ctx: RunCtx): Unit = {
    val in = input(ctx)
    val p = Medallion.Paths(s"${ctx.lake}/selftest")
    Medallion.run(ctx.spark, in.orders, in.customers, p.root)
    val intact = gate((in.orders, in.customers), p)
    ctx.res.check("gate passes on intact gold", intact.forall(_._2),
      intact.filterNot(_._2).map(_._3).mkString("; "))
    val gold = VersionedTable.read(ctx.spark, p.goldDailySales)
    val victim = gold.select("sale_date", "region").orderBy("sale_date", "region").first()
    val hit = col("sale_date") === victim.get(0) && col("region") === victim.get(1)
    val corrupted = gold.withColumn("total_revenue",
      when(hit, col("total_revenue") + 0.01).otherwise(col("total_revenue")))
      .localCheckpoint()
    VersionedTable.write(corrupted, p.goldDailySales, "overwrite",
      partitionBy = Seq("sale_date", "region"))
    val broken = gate((in.orders, in.customers), p)
    ctx.res.check("gate fails on corrupted gold", !broken.forall(_._2),
      "the gate accepted a gold table with one revenue shifted by 0.01")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
