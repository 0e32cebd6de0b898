package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The iteration chassis of every barriered loop (graph components, peels,
  * hop relaxations, raster sweeps): round counter, barrier cadence,
  * convergence test and the loud failure when a fixpoint loop runs out of
  * rounds. Three convergence modes:
  *
  *  - [[untilZero]]: fixpoint when no row of a round satisfies a test,
  *    read off the round's own checkpoint job through a zero-test marker;
  *  - [[untilStable]]: fixpoint when a driver-side signature of the
  *    barriered state repeats;
  *  - [[fixed]] / [[pinned]]: a fixed round budget (hop caps, unrolled
  *    oracles) — no convergence test.
  *
  * A fixpoint loop that runs out of rounds fails with a `require` naming
  * the operator instead of returning a plausible half-propagated state.
  *
  * Barrier cadence: fixpoint loops and [[Cadence.EveryRound]] barrier every
  * round. [[Cadence.EveryFourth]] barriers every [[Interval]]-th round and
  * lets the rounds between chain as ordinary stages of one plan — only for
  * linear chains, whose state is consumed ONCE per round (a state consumed
  * twice doubles the unbarriered plan per round). [[pinned]] persists the
  * rounds between those barriers instead; persisting measured slower than
  * a per-round checkpoint on every convergence loop, so only action-free
  * chains use it.
  */
private[graft] object Iterate {

  /** Rounds between barriers of an [[Cadence.EveryFourth]] or [[pinned]]
    * loop: bounds plan depth and lineage (ALS/GraphX checkpoint every 10
    * rounds by default).
    */
  val Interval = 4

  sealed trait Cadence
  object Cadence {
    case object EveryRound extends Cadence
    case object EveryFourth extends Cadence
  }

  /** `rounds` applications of `step` to `init`, barriered at `cadence`. */
  def fixed(rounds: Int, init: DataFrame, cadence: Cadence)(
      step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (state, round) =>
      val next = step(state)
      if (cadence == Cadence.EveryRound || round % Interval == 0) Session.barrier(next)
      else next
    }

  /** `rounds` applications of `step` with each state (and `init`)
    * persisted, a barrier every [[Interval]]-th round, and `seal` of the
    * last state materialized behind a final barrier. Every persisted frame
    * is unpersisted before this returns: a cached plan left registered
    * would be substituted by the CacheManager into any LATER query sharing
    * the subtree — cross-query result reuse this engine must never do.
    */
  def pinned(rounds: Int, init: DataFrame)(step: DataFrame => DataFrame)(
      seal: DataFrame => DataFrame): DataFrame = {
    val pins = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def pin(df: DataFrame): DataFrame = {
      pins += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }
    try {
      val last = (1 to rounds).foldLeft(pin(init)) { (state, round) =>
        val next = step(state)
        if (round % Interval == 0) Session.barrier(next) else pin(next)
      }
      Session.barrier(seal(last))
    } finally pins.foreach(_.unpersist(blocking = false))
  }

  /** One round of an [[untilZero]] loop: the round's rows, the test whose
    * zero count means fixpoint (evaluated on every row of `frame`, before
    * `keep`), the optional row filter, and the state's columns.
    */
  final case class Round(frame: DataFrame, test: Column, out: Seq[String],
                         keep: Option[Column] = None)

  /** Iterate `step` from `init` until a round in which no row satisfies its
    * test. Each round is one barrier; the zero count rides that barrier's
    * checkpoint job, so convergence costs no job of its own.
    */
  def untilZero(op: String, init: DataFrame, maxRounds: Int)(
      step: DataFrame => Round): DataFrame = {
    var state = init
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val r = step(state)
      val (acc, mark) = zeroTestMarker(r.frame.sparkSession)
      val marked = r.frame.withColumn(Marker, mark(r.test))
      val barriered = r.keep.fold(marked)(marked.where(_))
        .select((r.out :+ Marker).map(col): _*)
      // the marked column must be in the frame the barrier materializes;
      // it is dropped only after the barrier (see [[zeroTestMarker]])
      require(barriered.columns.last == Marker, s"$op: zero-test marker pruned")
      state = Session.barrier(barriered).drop(Marker)
      converged = acc.value == 0L
      rounds += 1
    }
    require(converged, s"$op did not converge within $maxRounds rounds")
    state
  }

  /** Iterate `step` from `init`, each state behind a barrier, until the
    * state's `signature` repeats.
    */
  def untilStable[S](op: String, init: DataFrame, maxRounds: Int)(
      signature: DataFrame => S)(step: DataFrame => DataFrame): DataFrame = {
    var state = init
    var sig = signature(init)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      state = Session.barrier(step(state))
      val next = signature(state)
      converged = next == sig
      sig = next
      rounds += 1
    }
    require(converged, s"$op did not converge within $maxRounds rounds")
    state
  }

  private val Marker = "__graft_zero_test"

  /** Accumulator-backed row marker for convergence ZERO-tests: `mark(cond)`
    * counts rows satisfying `cond` WHILE the enclosing action runs — so a
    * loop that barriers its round state reads the convergence signal off
    * the checkpoint job itself instead of paying a second job per round to
    * re-scan the materialized state.
    *
    * The marker UDF is nondeterministic ON PURPOSE, for two reasons: the
    * optimizer may not constant-fold/duplicate it, and — load-bearing —
    * filters cannot be pushed below a Project containing a nondeterministic
    * expression, so a `.withColumn("x", mark(cond)).where(keep)` evaluates
    * `cond` on every PRE-filter row (how kCore/kTruss count dropped edges).
    *
    * The marked column must REMAIN in the schema the enclosing action
    * materializes (stay in the checkpointed frame and be dropped only
    * after the barrier): ColumnPruning deletes an unreferenced projection
    * regardless of determinism — Spark assumes expressions are
    * side-effect-free — and with it the accumulator updates.
    *
    * Only `== 0` tests are valid on the accumulator value: an eager
    * reliable checkpoint executes its plan more than once (the count job +
    * the checkpoint write job) and task retries/speculation re-add, so the
    * value is an unreliable overcount — but it is EXACTLY 0 iff no row of
    * any complete execution satisfied `cond`. Never compare it to a prior
    * round's value or to a row count.
    */
  def zeroTestMarker(spark: SparkSession)
      : (org.apache.spark.util.LongAccumulator, Column => Column) = {
    val acc = spark.sparkContext.longAccumulator("graft.zeroTest")
    val f = org.apache.spark.sql.functions.udf { (b: Boolean) =>
      if (b) acc.add(1L); b
    }.asNondeterministic()
    (acc, (c: Column) => f(c))
  }
}
