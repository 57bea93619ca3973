package graft.algo

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Superstep scalars folded into the superstep's own action. A loop that
 * needs a scalar of the state it just produced (PageRank's dangling mass,
 * CC's fixed-point signature, LPA's changed count, a BFS frontier size)
 * reads it with `Dataset.observe` on the action that materializes the state
 * — an eager `localCheckpoint` here, or a committed snapshot through
 * [[graft.state.Supersteps.commit]] — instead of running a second
 * aggregate job (or a broadcast 1-row subplan) over the same rows.
 */
private[graft] object Iterate {

  /** How long a reader waits for the metrics after the observing action
    * returned: they arrive on the listener bus, normally within
    * milliseconds; running out means the frame was never materialized. */
  private val ObservedWait = 2.minutes

  /** `df` with `scalars` observed over its rows, and the reader of their
    * values (one Row, in `scalars` order). Read only after an action has
    * materialized the returned frame; an observation is one-shot. */
  def observe(df: DataFrame, scalars: Column*): (DataFrame, () => Row) = {
    val obs = Observation()
    (df.observe(obs, scalars.head, scalars.tail: _*),
      () => Await.result(obs.future, ObservedWait))
  }

  /** Eager `localCheckpoint` of `df` plus `scalars` over the same rows, from
    * the one checkpoint action. */
  def checkpoint(df: DataFrame, scalars: Column*): (DataFrame, Row) = {
    val (observed, read) = observe(df, scalars: _*)
    val cp = observed.localCheckpoint(true)
    (cp, read())
  }

  /** Order-independent sum of a probability-mass column (values in
    * [0, 1e8)): observed partial sums merge in task-completion order, so a
    * double sum would differ in its last bits from run to run; a decimal
    * sum is exact, so every run (and a resumed one, re-reading the
    * committed rows) gets the same double back. Null when no row counts. */
  def massSum(c: Column): Column = sum(c.cast(DecimalType(38, 30)))

  /** A [[massSum]] value read back from an observed Row (null → 0.0). */
  def massAt(r: Row, i: Int): Double =
    if (r.isNullAt(i)) 0.0 else r.getDecimal(i).doubleValue

  def msSince(t0: Long): Long = (System.nanoTime() - t0) / 1000000L
}
