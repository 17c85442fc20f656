package graft.core

import org.apache.spark.sql.DataFrame

/** A cached frame, and the engine's one caching scope: every persist
  * goes through [[Staged.acquire]], every release through
  * [[Staged.settle]] or [[Staged.within]]. An intermediate is cached
  * because several branches of ONE result read it, so that result is
  * materialized while it is cached, and it is released in `finally`.
  *
  * `df` is the persisted frame itself, and only `acquire`/`settle`
  * build a handle. `Dataset.unpersist` drops only the exact plan that
  * was persisted, so releasing a projection (`h.df.select(…)`) would
  * release nothing; as a plain `DataFrame` it does not type-check.
  */
final class Staged private (val df: DataFrame)

object Staged {

  /** Persist `df`; with `eager`, one count materializes it before the
    * branches that share it run as concurrent stages and race to
    * compute the same partitions. `eager = false` suits a frame whose
    * first reader is a single pass anyway.
    */
  def acquire(df: DataFrame, eager: Boolean = true): Staged = {
    val h = new Staged(df.persist())
    if (eager) h.df.count()
    h
  }

  /** Materialize `result` while `live` are cached, then release them.
    * The settled result is the one resident left; a query returning
    * its `df` leaves that release to the consumer.
    */
  def settle(result: DataFrame, live: Staged*): Staged =
    within(live: _*)(acquire(result))

  /** Run `body` while `live` are cached, then release them: [[settle]]
    * for a result materialized otherwise (an eager checkpoint, a
    * nested settle).
    */
  def within[A](live: Staged*)(body: => A): A =
    try body finally live.foreach(_.df.unpersist())
}
