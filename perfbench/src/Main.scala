package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up a workload, run its untimed warm-up
  * ops, time `--ops` ops, check every output, and write the run's result as
  * JSON to `--out`. `perfbench/run.py` launches this class; see
  * `perfbench/README.md` for the workloads and metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --ops K --trace 0|1
  *          --root DIR --out FILE [--fixture DIR] [--check-only]
  *
  * With `--trace 0` nothing is attached to Spark and only the end-to-end
  * metrics are reported. With `--trace 1` a [[Tracer]] attaches Spark's
  * public listeners and the workload reports its per-layer metrics.
  * `--check-only` skips set-up and ops and re-runs the output checks on an
  * existing `--root` (the checks' self-test corrupts a finished root).
  */
object Main {

  /** A workload: what one op is, and how its outputs are checked. */
  trait Workload {
    /** Told the run's total op count (warm-up included) before set-up. */
    def plan(totalOps: Int): Unit = ()
    /** Inputs, landing and memoization; runs before the first op. */
    def setup(): Unit
    /** Op `k` (0-based over warm-up and timed ops alike). */
    def op(k: Int): Unit
    /** Every output check; returns the failures (empty = correct). */
    def check(opsRun: Int): Seq[String]
    /** Ops that failed (counted by the workload, e.g. a failed cycle). */
    def failedOps: Int = 0
    /** Per-layer metrics of the last op (traced runs only), name -> (value, unit). */
    def layerMetrics(): Seq[(String, Double, String)] = Nil
  }

  /** Untimed warm-up ops before the timed ones: the first op of a JVM
    * takes three to four times as long as the ops after it, and the next
    * still runs 20 to 50% slower than the ones that follow.
    */
  val Warmup = 2

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS(): Double = cpuBean.getProcessCpuTime / 1e9

  private val started = System.nanoTime()

  /** Progress line on stderr (the run's jvm.log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%8.2f s] $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val ops = opts("ops").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = opts("root")
    val out = opts("out")
    val checkOnly = args.contains("--check-only")

    val t0 = System.nanoTime()
    val spark = graft.Session.build("perfbench-" + workloadName)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val w: Workload = workloadName match {
      case "cycle" => new CycleBench(spark, root, seed, tracer)
      case "gates" => new GateBench(spark, root, opts("fixture"), tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    if (checkOnly) {
      val problems = w.check(Warmup + ops)
      writeResult(out, problems, 0, 0, Nil)
      spark.stop()
      return
    }

    w.plan(Warmup + ops)
    log("session built")
    w.setup()
    log("set-up done")
    (0 until Warmup).foreach { k => w.op(k); System.gc() }
    log("warm-up done")
    val setupS = (System.nanoTime() - t0) / 1e9

    val walls = Seq.newBuilder[Double]
    val cpus = Seq.newBuilder[Double]
    val layers = Seq.newBuilder[Seq[(String, Double, String)]]
    (Warmup until Warmup + ops).foreach { k =>
      // quiesce outside the timed region so one op's garbage is not
      // charged to the next
      System.gc()
      val c0 = processCpuS()
      val s0 = System.nanoTime()
      w.op(k)
      walls += (System.nanoTime() - s0) / 1e9
      log(f"op $k: ${walls.result().last}%.3f s")
      cpus += processCpuS() - c0
      if (trace) layers += w.layerMetrics()
    }

    val problems = w.check(Warmup + ops)
    log(s"checked: ${problems.size} problems")
    // several collections: the first frees the weak references whose
    // cleanup (Spark's ContextCleaner) releases more on the next
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val metrics =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_s", median(walls.result()), "s"),
        ("op_cpu_s", median(cpus.result()), "s"),
        ("heap_live_mb", heapMb, "MB"))
      else {
        // median over ops of each per-layer metric; a metric of another
        // workload's layers reads 0
        val perOp = layers.result().map(_.map { case (n, v, _) => n -> v }.toMap)
        layerCatalog.map { case (name, unit) =>
          (name, if (perOp.head.contains(name)) median(perOp.map(_(name))) else 0.0, unit)
        }
      }
    writeResult(out, problems, ops, w.failedOps, metrics)
    spark.stop()
  }

  /** Every per-layer metric a traced run reports, with its unit. */
  val layerCatalog: Seq[(String, String)] = Seq(
    "land.s" -> "s", "land.cells_per_s" -> "cells/s", "forage.s" -> "s",
    "forage.input_rows" -> "rows", "forage.cells_per_row" -> "ratio",
    "forage.task_cpu_s" -> "s", "normals.built" -> "count", "publish.s" -> "s",
    "publish.output_mb" -> "MB", "geotiff.kb" -> "KB", "cycle.jobs" -> "count",
    "cycle.stages" -> "count", "cycle.tasks" -> "count", "cycle.gc_s" -> "s",
    "batch.planning_s" -> "s", "batch.jobs" -> "count", "batch.tasks" -> "count",
    "batch.task_cpu_s" -> "s", "batch.shuffle_mb" -> "MB", "batch.spill_mb" -> "MB",
    "stream.batches" -> "count") ++
    GateBench.streamPhases.map(_._1 -> "s") ++
    Seq("stream.state_commit_s" -> "s", "stream.state_rows" -> "rows") ++
    (GateBench.batchGates ++ GateBench.streamGates).map(g => s"gate.$g.s" -> "s")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeResult(out: String, problems: Seq[String], attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)]): Unit = {
    val ms = metrics.map { case (n, v, u) =>
      s"${jsonString(n)}: {\"value\": ${num(v)}, \"unit\": ${jsonString(u)}}"
    }.mkString("{", ", ", "}")
    val json =
      s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""problems": ${problems.map(jsonString).mkString("[", ", ", "]")}, "metrics": $ms}"""
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
  }
}
