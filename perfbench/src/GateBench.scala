package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The gate workload: one op is one pass over a fixed list of
  * `SparkEntry.queries` gates, each forced by `.count()`, over a
  * `GenFixture` fixture (`--fixture`, generated once per build by
  * `perfbench/build.py`; the gates only read it). The first (untimed)
  * warm-up pass writes each gate's result as parquet next to its
  * `SparkEntry.oracleSql` instead of counting it; `perfbench/oracle.py` compares those with DuckDB
  * after the JVM exits, and every timed pass's counts must equal the
  * written results' row counts.
  */
object GateBench {
  /** Iterative and shuffle-heavy batch gates. */
  val batchGates: Seq[String] = Seq(
    "g01_pagerank", "d02_ngram_jaccard", "q59_mad_outliers")

  /** Streaming gates: micro-batches with WAL and state-store commits. They
    * take more than half of a pass, so a cut to the micro-batch floor moves
    * the pass by more than its noise.
    */
  val streamGates: Seq[String] = Seq(
    "w04_stream_landing", "w06_stream_anomaly")

  val streamPhases: Seq[(String, String)] = Seq(
    "stream.trigger_s" -> "triggerExecution", "stream.add_batch_s" -> "addBatch",
    "stream.wal_commit_s" -> "walCommit", "stream.commit_offsets_s" -> "commitOffsets",
    "stream.query_planning_s" -> "queryPlanning", "stream.latest_offset_s" -> "latestOffset",
    "stream.get_batch_s" -> "getBatch")
}

final class GateBench(spark: SparkSession, root: String, fixture: String,
                      tracer: Option[Tracer]) extends Main.Workload {
  import GateBench._

  private val gates = batchGates ++ streamGates
  private val out = s"$root/gate_out"
  private val lastPass = scala.collection.mutable.Map[String, Double]()
  private val counts = scala.collection.mutable.Map[String, Set[Long]]()

  def setup(): Unit = require(Files.exists(Paths.get(fixture, "_GRAFT_GEN_OK")),
    s"no GenFixture fixture at $fixture")

  private var before: Map[String, Long] = Map.empty
  private var planningBefore = 0.0
  private var batchesBefore = 0L
  private var phasesBefore: Map[String, Double] = Map.empty
  private var stateCommitBefore = 0.0

  def op(k: Int): Unit = {
    tracer.foreach { t =>
      t.drain()
      before = t.sum(batchGates)
      planningBefore = t.planningS
      batchesBefore = t.streamBatchCount
      phasesBefore = streamPhases.map { case (_, p) => p -> t.streamPhaseS(p) }.toMap
      stateCommitBefore = t.stateCommitS
      t.resetStateRows()
    }
    gates.foreach { g =>
      val fn = SparkEntry.queries(g)
      def run(): Unit =
        if (k == 0)
          fn(spark, fixture).coalesce(1).write.mode("overwrite").parquet(s"$out/$g")
        else counts(g) = counts.getOrElse(g, Set.empty) + fn(spark, fixture).count()
      val t0 = System.nanoTime()
      tracer.fold(run())(_.inGroup(g)(run()))
      lastPass(g) = (System.nanoTime() - t0) / 1e9
    }
    Main.log(gates.map(g => f"$g ${lastPass(g)}%.2f").mkString("pass: ", ", ", ""))
  }

  override def layerMetrics(): Seq[(String, Double, String)] = {
    val t = tracer.get
    t.drain()
    // the batch gates' own job groups: streaming micro-batch jobs run
    // under their query's group and are reported by the stream metrics
    val after = t.sum(batchGates)
    def delta(key: String): Long = after.getOrElse(key, 0L) - before.getOrElse(key, 0L)
    val common = Seq(
      ("batch.planning_s", t.planningS - planningBefore, "s"),
      ("batch.jobs", delta("jobs").toDouble, "count"),
      ("batch.tasks", delta("tasks").toDouble, "count"),
      ("batch.task_cpu_s", delta("cpuNs") / 1e9, "s"),
      ("batch.shuffle_mb", delta("shuffleWriteBytes") / 1048576.0, "MB"),
      ("batch.spill_mb", delta("spillBytes") / 1048576.0, "MB"))
    val stream = Seq(("stream.batches", (t.streamBatchCount - batchesBefore).toDouble, "count")) ++
      streamPhases.map { case (name, p) => (name, t.streamPhaseS(p) - phasesBefore(p), "s") } ++
      Seq(("stream.state_commit_s", t.stateCommitS - stateCommitBefore, "s"),
        ("stream.state_rows", t.stateRows.toDouble, "rows"))
    common ++ stream ++ gates.map(g => (s"gate.$g.s", lastPass(g), "s"))
  }

  /** Every timed pass counted each gate's rows as the warm-up pass wrote
    * them; also writes the gates' oracle SQL for `oracle.py`.
    */
  def check(opsRun: Int): Seq[String] = {
    val json = gates.map(g => s"${Main.jsonString(g)}: ${Main.jsonString(SparkEntry.oracleSql(g))}")
      .mkString("{", ", ", "}")
    Files.writeString(Paths.get(out, "oracle_sql.json"), json)
    gates.flatMap { g =>
      val written = spark.read.parquet(s"$out/$g").count()
      counts.get(g).filter(_ != Set(written))
        .map(c => s"$g: timed passes counted ${c.mkString(",")} rows, the checked result has $written")
    }
  }
}
