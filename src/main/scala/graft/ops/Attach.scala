package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}

/** The engine's one way to attach a total: every frame `src/main`
  * widens with a global total, a one-row sketch estimate or audit, or a
  * per-key total goes through [[Attach.apply]], which returns `df` with
  * every non-key column of `totals` appended.
  *
  *  - Unkeyed (`keys` empty): the analyzer must bound `totals` to one
  *    row (`maxRows <= 1`: a global aggregate, and projections, filters
  *    and cross joins of one). The attach plans a broadcast nested-loop
  *    join whatever the size statistics say, so no attach reaches the
  *    cartesian path. A frame the analyzer cannot bound (a grouped
  *    aggregate, a filter over a ledger, a cut) raises: a real cross
  *    product is written out as one at its call site.
  *  - Keyed: a null-safe equi-join on `keys` (a null key is a group and
  *    keeps its total) with no hint. The keyed side has one row per
  *    group and no bound on the group count, so the planner and AQE
  *    choose: broadcast while it fits, shuffle by key when it does not.
  *    A caller whose plan needs the broadcast passes `broadcast(totals)`.
  *    Rows of `df` whose key has no total drop, as in an inner join. */
object Attach {

  def apply(df: DataFrame, totals: DataFrame, keys: Seq[String] = Nil): DataFrame =
    if (keys.isEmpty) {
      require(totals.queryExecution.analyzed.maxRows.exists(_ <= 1),
        "an unkeyed attach needs a frame the analyzer bounds to one row " +
          s"(a global aggregate), got columns ${totals.columns.mkString(", ")}")
      df.crossJoin(broadcast(totals))
    } else {
      def in(side: String, c: String) = col(s"$side.`$c`")
      df.as("__a").join(totals.as("__b"),
          keys.map(k => in("__a", k) <=> in("__b", k)).reduce(_ && _))
        .select(df.columns.map(in("__a", _)) ++
          totals.columns.filterNot(keys.contains).map(in("__b", _)): _*)
    }
}
