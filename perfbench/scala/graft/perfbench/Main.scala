package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one benchmark run reports back to `run.py`: correctness checks, scalar
  * values, raw samples (percentiles are taken on the Python side, by one
  * helper), and run context. Written as one JSON file at the end of the run.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val context = mutable.LinkedHashMap.empty[String, Double]

  /** One attempted operation (a rep, a micro-batch, a correctness check). */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) failed += 1
    if (!ok || checks.size < 64) checks += ((name, ok, if (ok) "" else detail))
    ok
  }

  def toJson: String = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj[V](m: Iterable[(String, V)])(f: V => String) =
      m.map { case (k, v) => s"${str(k)}:${f(v)}" }.mkString("{", ",", "}")
    val cs = checks.map { case (n, ok, d) =>
      s"""{"name":${str(n)},"ok":$ok,"detail":${str(d)}}""" }.mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,"checks":$cs,""" +
      s""""values":${obj(values)(num)},""" +
      s""""samples":${obj(samples)(_.map(num).mkString("[", ",", "]"))},""" +
      s""""context":${obj(context)(num)}}"""
  }
}

/** Everything a workload needs from the runner. */
final case class RunCtx(
    spark: SparkSession, staged: String, work: String, seconds: Int,
    trace: Boolean, tracer: Tracer, counters: EngineCounters, res: Result) {
  def lake: String = s"$work/lake"
  def checkpoints: String = s"$work/checkpoints"
  def elapsedS(startNs: Long): Double = (System.nanoTime() - startNs) / 1e9
}

/** Benchmark JVM entry point.
  *
  * {{{
  *   Main --workload <name> --staged <dir> --work <dir> --seconds <n> --trace <0|1>
  *        --out <result.json>
  * }}}
  *
  * `--staged` holds the seeded inputs `gen.py` wrote; `--work` is scratch
  * space this run owns (lake, checkpoints, Spark local dirs). The workload
  * `gate_selftest` runs the batch correctness gate against a deliberately
  * corrupted gold table and passes only if the gate catches it.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = new File(opts("work")).getAbsolutePath
    val out = opts("out")
    new File(work).mkdirs()

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder("perfbench", master = s"local[$cores]",
        shufflePartitions = Some(cores))
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Registry.registerAll(spark)
    // JVM start → session ready: the launch cost every run pays
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer
    val counters = new EngineCounters(tracer)
    val trace = opts.getOrElse("trace", "0") == "1"
    if (trace) counters.register(spark)
    val ctx = RunCtx(spark, new File(opts("staged")).getAbsolutePath, work,
      opts.getOrElse("seconds", "10").toInt, trace, tracer, counters, new Result)
    ctx.res.values("session_s") = sessionS

    try workload match {
      case "medallion_batch" => BatchWorkload.run(ctx)
      case "gate_selftest" => BatchWorkload.gateSelfTest(ctx)
      case "cdc_upsert" => StreamWorkloads.runCdc(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        ctx.res.check("run", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    Files.write(Paths.get(out), ctx.res.toJson.getBytes(StandardCharsets.UTF_8))
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }
}
