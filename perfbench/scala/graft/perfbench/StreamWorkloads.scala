package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.catalog.VersionedTable
import graft.cdc.Flatten
import graft.model.Schemas
import graft.ops.{Compaction, IncrementalAgg}
import graft.sources.AvroEnvelopeIO
import graft.streaming.LiveView

/** `cdc_upsert`, the open-loop stream workload.
  *
  * One mover thread moves pre-staged files into the landed directory on a
  * fixed schedule and records each file's due time. Chained queries with the
  * default trigger (a new micro-batch as soon as the previous one ends and
  * data is waiting) carry the files to a gold view. After the run, each
  * file's latency is read off the tables: the silver version that holds the
  * file's marker row, then the first gold commit whose micro-batch covered
  * that version.
  */
object StreamWorkloads {

  private val DefaultTrigger = Trigger.ProcessingTime(0L)
  private val ViewKeys = Seq("sale_date", "region")
  private val ViewSums = Seq("order_amount")
  /** Traced runs alternate untraced and traced blocks of this many files. */
  private val TraceBlock = 10
  private val DrainTimeoutS = 60.0

  final case class Manifest(files: Seq[File], warmup: Int, intervalS: Double,
      rowsPerFile: Int, markers: Seq[Long]) {
    def measured: Range = warmup until files.size
  }

  def manifest(staged: String): Manifest = {
    val m = new ObjectMapper().readTree(new File(s"$staged/manifest.json"))
    val n = m.get("files").asInt()
    Manifest((0 until n).map(i => new File(f"$staged/files/f-$i%05d.jsonl")),
      m.get("warmup_files").asInt(), m.get("interval_s").asDouble(),
      m.get("rows_per_file").asInt(),
      m.get("markers").elements().asScala.map(_.asLong()).toSeq)
  }

  /** Moves `files(i)` to `targets(i)` for i in `range`, file i due `intervalS`
    * after file i-1; records due and actual wall times (epoch ms).
    */
  final class Mover(sources: Seq[File], targets: Seq[File], range: Range,
      intervalS: Double, onDue: Int => Unit) extends Thread("perfbench-mover") {
    val dueMs = new Array[Long](sources.size)
    val movedMs = new Array[Long](sources.size)
    @volatile var error: Option[Throwable] = None
    private val startNs = System.nanoTime()
    private val startMs = System.currentTimeMillis()
    setDaemon(true)

    override def run(): Unit = try {
      range.zipWithIndex.foreach { case (i, k) =>
        val offsetNs = (k * intervalS * 1e9).toLong
        val waitNs = startNs + offsetNs - System.nanoTime()
        if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
        dueMs(i) = startMs + offsetNs / 1000000L
        onDue(i)
        movedMs(i) = System.currentTimeMillis()
        Files.move(sources(i).toPath, targets(i).toPath, StandardCopyOption.ATOMIC_MOVE)
      }
    } catch { case e: Throwable => error = Some(e) }
  }

  private def waitUntil(what: String, timeoutS: Double, queries: Seq[StreamingQuery])
      (cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond) {
      queries.flatMap(_.exception).headOption.foreach(e => throw e)
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"timed out after ${timeoutS}s waiting for $what; " +
          queries.map(q => s"query ${q.name}: ${rowsIn(q)} rows in, last offsets " +
            Option(q.lastProgress).map(_.sources.map(s => s"${s.startOffset}->${s.endOffset}")
              .mkString(",")).getOrElse("none")).mkString("; "))
      Thread.sleep(50)
    }
  }

  private def head(ctx: RunCtx, loc: String): Long =
    if (!VersionedTable.exists(ctx.spark, loc)) -1L
    else VersionedTable.commits(ctx.spark, loc).last.version

  private def progress(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq

  private def endVersion(p: StreamingQueryProgress): Option[Long] =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).flatMap(_.trim.toLongOption)

  /** A micro-batch that read new data (idle progress events repeat the last
    * offsets).
    */
  private def advanced(p: StreamingQueryProgress): Boolean =
    p.sources.exists(s => s.startOffset != s.endOffset)

  /** The query has committed a micro-batch that read its source up to `v`. */
  private def caughtUp(q: StreamingQuery, v: Long): Boolean =
    v >= 0 && Option(q.lastProgress).flatMap(endVersion).exists(_ >= v)

  private def rowsIn(q: StreamingQuery): Long = progress(q).map(_.numInputRows).sum

  /** Which silver version first inserted each file's marker key. Reads only
    * the versions committed since the last look: one small change-feed job
    * per new version range.
    */
  final class SilverMarkers(ctx: RunCtx, silver: String, from: Long, m: Manifest) {
    private var next = from
    private val seen = mutable.Map.empty[Long, Long]

    def refresh(): Unit = {
      val h = head(ctx, silver)
      if (h >= next) {
        VersionedTable.readChanges(ctx.spark, silver, next, h)
          .filter(col("_change_type") === "insert" && col("order_id").isin(m.markers: _*))
          .select("order_id", "_commit_version").collect()
          .foreach(r => seen.getOrElseUpdate(r.getLong(0), r.getLong(1)))
        next = h + 1
      }
    }

    /** Every one of the first `files` files has reached silver. */
    def reached(files: Int): Boolean = {
      refresh()
      (0 until files).forall(i => seen.contains(m.markers(i)))
    }

    def versions: Map[Long, Long] = { refresh(); seen.toMap }
  }

  /** Per-file latency: due time → first gold commit covering the silver
    * version that holds the file's marker key. `markerVersions` maps marker →
    * silver version; gold commits carry the view query's batch id as txn_id.
    */
  private def latencies(ctx: RunCtx, m: Manifest, mover: Mover, gold: String,
      goldQ: StreamingQuery, markerVersions: Map[Long, Long]): Seq[(Int, Double, Long)] = {
    val commitMs = VersionedTable.commits(ctx.spark, gold)
      .map(c => c.txn_id -> Lake.epochMs(c)).toMap
    val covered = progress(goldQ).filter(advanced)
      .flatMap(p => endVersion(p).flatMap(v => commitMs.get(p.batchId).map(v -> _)))
      .sortBy(_._2)
    m.measured.map { i =>
      val sv = markerVersions.getOrElse(m.markers(i), throw new IllegalStateException(
        s"file $i: marker ${m.markers(i)} never reached silver"))
      val at = covered.find(_._1 >= sv).map(_._2).getOrElse(throw new IllegalStateException(
        s"file $i: no gold commit covers silver version $sv"))
      (i, (at - mover.dueMs(i)) / 1e3, at)
    }
  }

  /** Progress-derived per-query metrics over the measured window. */
  private def queryMetrics(ctx: RunCtx, name: String, q: StreamingQuery, fromMs: Long): Unit = {
    val ps = progress(q).filter(p => advanced(p) &&
      Instant.parse(p.timestamp).toEpochMilli >= fromMs)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    val r = ctx.res
    r.values(s"streaming.$name.batches") = ps.size.toDouble
    r.values(s"streaming.$name.rows_per_batch") =
      if (ps.isEmpty) 0.0 else ps.map(_.numInputRows).sum.toDouble / ps.size
    r.samples(s"streaming.$name.trigger_s") = ps.map(d(_, "triggerExecution"))
    r.samples(s"streaming.$name.add_batch_s") = ps.map(d(_, "addBatch"))
    r.samples(s"streaming.$name.planning_s") = ps.map(d(_, "queryPlanning"))
    r.samples(s"streaming.$name.offsets_s") = ps.map(p =>
      Seq("latestOffset", "getBatch", "walCommit", "commitOffsets").map(d(p, _)).sum)
    // every micro-batch is an attempted operation; a query that died failed one
    r.attempted += ps.size
    q.exception.foreach(e => r.check(s"$name query", ok = false, e.getMessage))
  }

  /** Engine counters and per-layer self time, per traced unit (a rep or a
    * file).
    */
  def engineAndSelf(ctx: RunCtx, units: Int): Unit = if (ctx.trace) {
    val (c, r, n) = (ctx.counters, ctx.res, math.max(units, 1).toDouble)
    c.drain()
    r.values("spark.jobs") = c.jobs / n
    r.values("spark.stages") = c.stages / n
    r.values("spark.tasks") = c.tasks / n
    r.values("spark.planning_s") = c.planningMs / 1e3 / n
    r.values("spark.executor_run_s") = c.executorRunMs / 1e3 / n
    r.values("spark.shuffle_write_bytes") = c.shuffleWriteBytes / n
    c.synchronized {
      (EngineCounters.Layers :+ "other").foreach { l =>
        r.values(s"self.${l}_s") = c.jobMsByLayer(l) / 1e3 / n
      }
    }
  }

  /** Drive the measured files, drain, stop, and turn tables + progress into
    * metrics.
    */
  private def measure(ctx: RunCtx, m: Manifest, landed: String, sources: Seq[File],
      queries: Seq[(String, StreamingQuery)], drained: => Boolean,
      gold: String, markers: SilverMarkers): Unit = {
    val res = ctx.res
    val lake0 = Lake.usage(ctx.lake)
    val targets = sources.indices.map(target(landed, _))
    val traced = (i: Int) => ctx.trace && ((i - m.warmup) / TraceBlock) % 2 == 1
    val startMs = System.currentTimeMillis()
    val mover = new Mover(sources, targets, m.measured, m.intervalS,
      i => ctx.tracer.on = traced(i))
    mover.start()
    mover.join()
    mover.error.foreach(e => throw e)
    val qs = queries.map(_._2)
    waitUntil("the last file to reach gold", DrainTimeoutS, qs)(drained)
    ctx.tracer.on = false
    qs.foreach(_.stop())
    val lake1 = Lake.usage(ctx.lake)

    val lat = latencies(ctx, m, mover, gold, queries.last._2, markers.versions)
    res.samples("latency_s") = lat.filterNot(l => traced(l._1)).map(_._2)
    res.samples("traced_latency_s") = lat.filter(l => traced(l._1)).map(_._2)
    val firstDue = mover.dueMs(m.warmup)
    val measuredRows = m.measured.size.toLong * m.rowsPerFile
    res.values("rows_per_s") = measuredRows / ((lat.map(_._3).max - firstDue) / 1e3)
    val landedBytes = m.measured.map(i => targets(i).length()).sum.toDouble
    val written = lake1 - lake0
    res.values("write_amp") = written.bytes / landedBytes
    res.values("files_per_krow") = written.files / (measuredRows / 1e3)
    res.samples("generator_late_s") =
      m.measured.map(i => (mover.movedMs(i) - mover.dueMs(i)) / 1e3)

    queries.foreach { case (name, q) => queryMetrics(ctx, name, q, startMs) }
    val commits = Lake.commits(ctx.spark, ctx.lake)
    val inWindow = commits.filter(c => Lake.epochMs(c._2) >= startMs)
    res.values("catalog.commits") = inWindow.size.toDouble
    res.values("catalog.log_versions") = commits.size.toDouble
    res.values("catalog.files_written") = written.files.toDouble
    res.values("catalog.bytes_written") = written.bytes.toDouble
    res.values("catalog.rows_rewritten_per_changed_row") =
      inWindow.map(_._2.row_count).sum.toDouble / measuredRows
    res.values("gold.view_rows") = VersionedTable.read(ctx.spark, gold).count().toDouble
    val tracedFiles = m.measured.count(traced)
    engineAndSelf(ctx, tracedFiles)
  }

  private def target(landed: String, i: Int): File = new File(f"$landed/f-$i%05d.avro")

  /** Warm-up files arrive on the measured schedule, so the queries reach the
    * steady state they are measured in.
    */
  private def warmUp(m: Manifest, sources: Seq[File], landed: String, range: Range): Unit = {
    val mover = new Mover(sources, sources.indices.map(target(landed, _)), range,
      m.intervalS, _ => ())
    mover.start()
    mover.join()
    mover.error.foreach(e => throw e)
  }

  private def dimension(ctx: RunCtx): DataFrame = {
    val dim = ctx.spark.read.schema(Schemas.customers)
      .json(s"${ctx.staged}/customers.jsonl").select("customer_id", "region").cache()
    dim.count()
    dim
  }

  /** Envelope → flat change row: the after-image (the before-image for a
    * delete), a delete flag, and the event sequence; Debezium epoch-day dates
    * decoded by [[Flatten]].
    */
  private def flatten(envelopes: DataFrame): DataFrame =
    Flatten.decodeEpochDays(envelopes.select(
      coalesce(col("after"), col("before")).as("v"),
      (col("op") === "d").as("_del"), col("ts_ms").as("_seq"))
      .select(col("v.*"), col("_del"), col("_seq")), "order_date")

  /** Silver's row shape: the order with its customer's region and sale date. */
  private def enrich(flat: DataFrame, dim: DataFrame): DataFrame = {
    val extra = Seq("_del", "_seq").filter(flat.columns.contains).map(col)
    flat.join(broadcast(dim), Seq("customer_id")).select(Seq(col("order_id"),
      date_format(col("order_date"), "yyyy-MM-dd").as("sale_date"), col("region"),
      col("customer_id"), col("order_amount").cast("double").as("order_amount")) ++ extra: _*)
  }

  /** Encode the staged change files as Debezium Avro container files with
    * [[AvroEnvelopeIO]], one output file per staged file, in one Spark job.
    */
  private def encodeAvro(ctx: RunCtx, m: Manifest, out: String): Seq[File] = {
    val json = new ObjectMapper()
    def value(n: com.fasterxml.jackson.databind.JsonNode): Row =
      if (n == null || n.isNull) null
      else Row(n.get("order_id").asLong(), n.get("order_date").asInt(),
        new java.math.BigDecimal(n.get("order_amount").asText()).setScale(2),
        n.get("customer_id").asLong())
    // parsed in this JVM: the files are small, and line order is event order
    val perFile = m.files.map { f =>
      Files.readAllLines(f.toPath).asScala.toVector.map(json.readTree).map(e =>
        Row(value(e.get("before")), value(e.get("after")), e.get("op").asText(),
          e.get("ts_ms").asLong()))
    }
    val rdd = ctx.spark.sparkContext.parallelize(perFile, perFile.size).flatMap(identity)
    AvroEnvelopeIO.writeEnvelopes(
      ctx.spark.createDataFrame(rdd, AvroEnvelopeIO.ordersEnvelopeStructType),
      AvroEnvelopeIO.ordersEnvelopeSchemaJson, out)
    m.files.indices.map(i => new File(s"$out/part-$i.avro"))
  }

  def runCdc(ctx: RunCtx): Unit = {
    val (spark, res) = (ctx.spark, ctx.res)
    val setupStart = System.nanoTime()
    val m = manifest(ctx.staged)
    val landed = s"${ctx.work}/landed"
    new File(landed).mkdirs()
    val silver = s"${ctx.lake}/silver/orders"
    val gold = s"${ctx.lake}/gold/daily_sales_view"
    val chk = ctx.checkpoints
    val dim = dimension(ctx)
    val avro = encodeAvro(ctx, m, s"${ctx.work}/avro")
    val base = spark.read.schema(Schemas.orderCdcValue).json(s"${ctx.staged}/base.jsonl")
    val baseFlat = Flatten.decodeEpochDays(base, "order_date")
    VersionedTable.write(enrich(baseFlat, dim), silver, "overwrite")

    val silverQ = enrich(flatten(spark.readStream.format("avro")
        .schema(AvroEnvelopeIO.ordersEnvelopeStructType).load(landed)), dim)
      .writeStream.format("graft-table")
      .option("mergeKeys", "order_id").option("deleteColumn", "_del")
      .option("sequenceBy", "_seq").option("changeFeed", "true")
      .option("checkpointLocation", s"$chk/silver").trigger(DefaultTrigger)
      .start(silver)
    ctx.counters.chargeQuery(silverQ.id, "catalog")
    val goldQ = LiveView.maintain(spark, silver, gold, ViewKeys, ViewSums, s"$chk/gold",
      trigger = DefaultTrigger)
    val queries = Seq("silver" -> silverQ, "gold" -> goldQ)
    // version 0 is the base overwrite; the change feed starts at the first merge
    val markers = new SilverMarkers(ctx, silver, 1L, m)
    def drained(files: Int): Boolean =
      markers.reached(files) && caughtUp(goldQ, head(ctx, silver))
    ctx.res.context("staging_s") = ctx.elapsedS(setupStart)
    warmUp(m, avro, landed, 0 until m.warmup)
    waitUntil("warm-up files to reach gold", DrainTimeoutS, queries.map(_._2))(
      drained(m.warmup))
    res.values("setup_s") = res.values("session_s") + ctx.elapsedS(setupStart)

    measure(ctx, m, landed, avro, queries, drained(m.files.size), gold, markers)

    // the merge sink evaluates its micro-batch several times, and the progress
    // event's numInputRows counts every evaluation: take the true input per
    // batch from how many files each silver version applied
    val applied = markers.versions
    res.values("streaming.silver.rows_per_batch") = m.measured.size.toDouble *
      m.rowsPerFile / m.measured.map(i => applied(m.markers(i))).distinct.size
    res.samples("catalog.commit_s") =
      res.samples.getOrElse("streaming.silver.add_batch_s", Seq.empty)
    res.values("dq.quarantined_ratio") = 0.0

    // gate: silver = latest event per key over base + every change (deletes
    // removed), and the live view equals a recompute over silver
    val changes = flatten(spark.read.schema(AvroEnvelopeIO.ordersEnvelopeStructType)
      .json(s"${ctx.staged}/files"))
    val all = enrich(baseFlat.withColumn("_del", lit(false)).withColumn("_seq", lit(0L)), dim)
      .unionByName(enrich(changes, dim))
    val expected = Compaction.latestPerKey(all, Seq("order_id"), Seq("_seq"))
      .filter(!col("_del")).drop("_del", "_seq")
    val silverRows = VersionedTable.read(spark, silver)
    val (silverOk, why) = Gates.sameRows(expected, silverRows)
    res.check("silver = Compaction.latestPerKey(base + changes)", silverOk, why)
    val (viewOk, viewWhy) = Gates.sameView(
      IncrementalAgg.recompute(silverRows, ViewKeys, ViewSums),
      VersionedTable.read(spark, gold), ViewKeys)
    res.check("gold view = IncrementalAgg.recompute(silver)", viewOk, viewWhy)
  }
}
