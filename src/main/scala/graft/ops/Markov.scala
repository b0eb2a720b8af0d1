package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Markov-chain analytics over a transition-count frame — the
  * stationary-distribution complement of the `event_transitions`
  * matrix: "given these observed hops, where does a user SPEND their
  * time in the long run?" (session-mix forecasting, load modeling,
  * crawl-frequency budgeting).
  *
  * Determinism contract ([[Graph.pageRank]]'s): the row-stochastic
  * probabilities are ONE double division of exact counts each; every
  * power-iteration step quantizes its mass products to DECIMAL(30,12)
  * before summing (reduction-order-exact), and the fixed `iters` round
  * count is replayed round-for-round by the oracle's chained CTEs.
  * FLOAT at the surface.
  *
  * Scale shape: the state space is the DISTINCT key set (event types,
  * page classes — dozens), so each round is a join+aggregate over a
  * |states|²-bounded frame regardless of how many trillions of raw
  * transitions were counted upstream; each round is a [[Cut]] so the
  * plan never deepens with `iters`. */
object Markov {

  /** Stationary distribution of the chain defined by `transitions`
    * (one row per (cur, nxt) with a positive count), by `iters`
    * synchronous power iterations from the uniform vector. Every state
    * that ever appears as `nxt` must also appear as `cur` (checked
    * loudly) — a sink state would silently leak mass each round.
    * Output: (state, prob FLOAT). */
  def stationary(transitions: DataFrame, cur: String, nxt: String,
                 n: String, iters: Int = 8): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val tot = transitions.groupBy(col(cur).as("__i"))
      .agg(sum(col(n)).as("__t"))
    val p = Cut(transitions.join(tot, col(cur) === col("__i"))
      .select(col(cur).as("__from"), col(nxt).as("__to"),
        (col(n).cast("double") / col("__t").cast("double")).as("__p")))
    val curs = p.select(col("__from")).distinct()
    val sinks = p.select(col("__to").as("__from")).distinct()
      .join(curs, Seq("__from"), "left_anti")
    // one bounded action on the failure path: collect the first few ids
    // as strings (take(5) of Rows would both run a second job and
    // render as '[x]' Row syntax in the message)
    val sinkIds = sinks.select(col("__from").cast("string"))
      .limit(5).collect().map(_.getString(0))
    require(sinkIds.isEmpty,
      "stationary: transition frame has sink states (appear as next but " +
        s"never as current) — mass would leak: ${sinkIds.mkString(", ")}")
    val states = Cut(curs.select(col("__from").as("state")))
    val nStates = states.count()
    var v = states.withColumn("prob", lit(1.0) / lit(nStates.toDouble))
    for (_ <- 1 to iters) {
      val stepped = v.join(p, col("state") === col("__from"))
        .groupBy(col("__to").as("state"))
        .agg(sum((col("prob") * col("__p")).cast("decimal(30,12)"))
          .cast("double").as("__np"))
      v = Cut(states.join(stepped, Seq("state"), "left")
        .select(col("state"), coalesce(col("__np"), lit(0.0)).as("prob")))
    }
    v.select(col("state"), col("prob").cast("float").as("prob"))
  }
}
