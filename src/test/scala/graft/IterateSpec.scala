package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Pins the [[Iterate]] chassis.
  *
  * Job count: an [[Iterate.untilZero]] round costs exactly one barrier —
  * its convergence test rides the barrier's checkpoint job — so a loop
  * that needs more rounds pays exactly that many more barriers, and a
  * per-round count job added back shows up as a difference here.
  *
  * The [[Iterate.zeroTestMarker]] contract the fixpoint loops depend on:
  *
  *  1. the accumulator fires DURING the barrier's checkpoint action —
  *     no separate job needed to read the convergence signal;
  *  2. with the marked column kept in the checkpointed schema, rows
  *     REMOVED by a filter above the marker still count (the
  *     nondeterministic projection blocks filter pushdown below it);
  *  3. the ==0 side of the test is trustworthy: zero matching rows ⇒
  *     accumulator exactly 0, however many times the checkpoint
  *     re-executes the plan;
  *  4. the hazard that bit round-14's first cut, pinned as a negative:
  *     selecting the marked column away INSIDE the barrier lets
  *     ColumnPruning delete the side-effecting projection, silencing
  *     the accumulator.
  */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs `body` launches, counted per job group as JobCount does. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"iterate-spec-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** Triangle {1, 2, 3} with a pendant chain of `len` edges hanging off 3:
    * the 2-core peels one chain edge per round, then needs one round that
    * drops nothing — `len + 1` rounds.
    */
  private def pendantChain(len: Int) =
    (Seq((1L, 2L), (1L, 3L), (2L, 3L)) ++
      (0 until len).map(i => (3L + i, 4L + i))).toDF("u", "v")

  test("kCore: each extra peel round costs one bare barrier of the round's shape, nothing more") {
    val (short, long) = (1, 4) // 2 and 5 rounds
    val jobsShort = jobsOf(Graph.kCore(pendantChain(short), k = 2))
    val jobsLong = jobsOf(Graph.kCore(pendantChain(long), k = 2))
    // the same frame a kCore round barriers, without the zero-test marker:
    // the symmetric edge list with both endpoint-degree windows
    val e = pendantChain(long)
    val wU = org.apache.spark.sql.expressions.Window.partitionBy($"u")
    val wV = org.apache.spark.sql.expressions.Window.partitionBy($"v")
    val barrierJobs = jobsOf(Session.barrier(
      e.unionByName(e.select($"v".as("u"), $"u".as("v")))
        .withColumn("du", count(lit(1)).over(wU))
        .withColumn("dv", count(lit(1)).over(wV))
        .where($"u" < $"v" && $"du" >= 2L && $"dv" >= 2L)
        .select($"u", $"v")))
    barrierJobs should be > 0
    (jobsLong - jobsShort) shouldBe (long - short) * barrierJobs
    Graph.kCore(pendantChain(long), k = 2).count() shouldBe 3L
  }

  test("a fixpoint loop that runs out of rounds names its operator") {
    val e = intercept[IllegalArgumentException] {
      Graph.kCore(pendantChain(3), k = 2, maxRounds = 2)
    }
    e.getMessage should include("kCore did not converge within 2 rounds")
  }

  test("marker counts pre-filter rows during the barrier action; ==0 is exact") {
    val df = (1L to 100L).toDF("x")
    val (acc, mark) = Iterate.zeroTestMarker(spark)
    val kept = Session.barrier(
        df.withColumn("gone", mark($"x" > 90L)).where($"x" <= 90L))
      .select($"x")
    // no further action has run: the value below came from the barrier job
    acc.value.longValue should be >= 10L // ≥: reliable checkpoints may re-execute
    kept.count() shouldBe 90L

    val (accZero, markZero) = Iterate.zeroTestMarker(spark)
    Session.barrier(
      df.withColumn("gone", markZero($"x" > 1000L)).where($"x" <= 1000L))
    accZero.value.longValue shouldBe 0L
  }

  test("negative pin: dropping the marked column inside the barrier silences the marker") {
    // the kCore round shape: window-derived column feeding the filter;
    // selecting the marked column away before the checkpoint let the
    // optimizer delete the side-effecting projection in round-14's first
    // cut (premature convergence, caught by GraphSpec's cascading peel)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"u")
    val df = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("u", "v")
    val (acc, mark) = Iterate.zeroTestMarker(spark)
    Session.barrier(
      df.withColumn("du", count(lit(1)).over(w))
        .withColumn("gone", mark($"du" < 2L))
        .where($"du" >= 2L)
        .select($"u", $"v"))
    acc.value.longValue shouldBe 0L
  }
}
