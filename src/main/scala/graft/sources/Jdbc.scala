package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC serving-layer I/O (reference: Postgres warehouse).
  *
  * Maps the reference's four JDBC patterns (scripts/load_stock_metrics.py:89,
  * scripts/load_sp500.py:51, scripts/transform.py:39-44,
  * scripts/ingest_hourly.py:48-53) onto Spark's JDBC source. Watermark
  * reads push the aggregate into the database via a pushdown subquery —
  * only the scalar/grouped result crosses the wire, exactly like the
  * reference's `SELECT MAX(date)`.
  *
  * Exercised at runtime against embedded Derby (JdbcSpec — the driver
  * jars ship with Spark), which covers the same Spark JDBC codepath a
  * Postgres warehouse would use; only the dialect differs.
  *
  * Kept as reference surface: no engine path calls it, because the
  * engine serves from a parquet warehouse
  * ([[graft.pipeline.StockPipeline.load]]). It is the reference's
  * Postgres load, for a deployment that serves from Postgres.
  */
object Jdbc {

  def props(user: String, password: String, driver: String = "org.postgresql.Driver"): Properties = {
    val p = new Properties()
    p.setProperty("user", user)
    p.setProperty("password", password)
    p.setProperty("driver", driver)
    p
  }

  /** Properties for an embedded Derby database (in-JVM, no server) —
    * the offline integration-test stand-in for the warehouse. */
  def derbyProps(): Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** Identifier validation + quoting before SQL interpolation:
    * table/column names reach [[watermark]] as strings, and unvalidated
    * interpolation could inject if a name is ever externally sourced.
    * Column quoting matches Spark's own JDBC DDL (JdbcUtils quotes the
    * columns it creates, preserving case, but passes TABLE names through
    * unquoted — so tables must stay unquoted here too, or the database's
    * case-folded name won't resolve; verified against embedded Derby in
    * JdbcSpec). Dotted qualification allowed; each part is validated and
    * quoted separately. */
  private[sources] def quoteIdent(name: String): String = {
    val part = "[A-Za-z_][A-Za-z0-9_]*"
    require(name.matches(s"$part(\\.$part)?"),
      s"illegal SQL identifier: '$name'")
    name.split('.').map(p => "\"" + p + "\"").mkString(".")
  }

  /** Validate WITHOUT quoting — for table names, which Spark's own JDBC
    * write path interpolates unquoted (the database case-folds them). */
  private[sources] def checkIdent(name: String): String = {
    val part = "[A-Za-z_][A-Za-z0-9_]*"
    require(name.matches(s"$part(\\.$part)?"),
      s"illegal SQL identifier: '$name'")
    name
  }

  /** Full-table analytical read (reference: scripts/app.py:34-44). */
  def readTable(spark: SparkSession, url: String, table: String, p: Properties): DataFrame =
    spark.read.jdbc(url, table, p)

  /** Pushdown query read — the database computes, Spark receives
    * (reference watermark reads: scripts/ingest_hourly.py:48-53). */
  def readQuery(spark: SparkSession, url: String, sql: String, p: Properties): DataFrame =
    spark.read.jdbc(url, s"($sql) AS pushed", p)

  /** Global high-watermark: MAX(ord) pushed down to the database. `ord`
    * must be a single-part column name — a dotted qualifier would make
    * the derived alias ("latest_" + ord) invalid SQL. */
  def watermark(spark: SparkSession, url: String, table: String, ord: String,
                p: Properties): DataFrame = {
    require(!ord.contains('.'),
      s"watermark column must be unqualified, got '$ord'")
    readQuery(spark, url,
      s"SELECT MAX(${quoteIdent(ord)}) AS ${quoteIdent("latest_" + ord)} " +
        s"FROM ${checkIdent(table)}", p)
  }

  /** Incremental append (reference: load_stock_metrics.py:89). */
  def append(df: DataFrame, url: String, table: String, p: Properties): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, p)

  /** Full refresh (reference: load_sp500.py:51 `if_table_exists='replace'`). */
  def replace(df: DataFrame, url: String, table: String, p: Properties): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, p)
}
