package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Wide↔long reshaping.
  *
  * The reference receives yfinance's wide (field × ticker) frame and
  * unpivots it with pandas `df.stack(level=1)` into long rows keyed
  * (date, ticker) (reference: scripts/ingest_backfill_raw.py:41-42,
  * scripts/ingest_hourly.py:63-64), then lowercases the headers.
  *
  * Spark 3.4+ has first-class `unpivot`/`melt` — a narrow map-only
  * operator, no shuffle.
  */
object Reshape {

  /** Wide→long: id columns stay, each value column becomes a row with its
    * name in `varName` and value in `valueName`. */
  def unpivot(df: DataFrame, ids: Seq[String], values: Seq[String],
              varName: String, valueName: String): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, varName, valueName)

  /** Long→wide pivot (inverse of unpivot; dashboard-side reshaping).
    * Without an explicit value list Spark runs a driver-side DISTINCT
    * job to discover the columns first — fine interactively, an extra
    * full pass at 100 TB. */
  def pivot(df: DataFrame, id: String, varName: String, valueName: String): DataFrame =
    df.groupBy(col(id)).pivot(varName).agg(first(col(valueName)))

  /** Pivot with the output columns declared up front: single pass, no
    * driver-side distinct job — the form to use at scale (and the only
    * deterministic one when the value domain matters). */
  def pivot(df: DataFrame, id: String, varName: String, valueName: String,
            values: Seq[String]): DataFrame =
    df.groupBy(col(id)).pivot(varName, values).agg(first(col(valueName)))
}
