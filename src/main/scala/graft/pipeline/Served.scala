package graft.pipeline

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Result rows kept on the driver per warehouse snapshot: the mechanism
  * behind [[StockAnalytics]]' served reads, whose scaladoc states the
  * contract (key, bound, what a miss and a hit cost).
  *
  * Relations enter the key by identity, since `HadoopFsRelation`'s own
  * equality compares the root paths of its file index and not its
  * listing. Inputs whose result could change under one key are never
  * kept: a leaf other than a file or local relation, a nondeterministic
  * expression, a stream. Besides the byte bound, at most [[MaxResults]]
  * entries are kept, since each key holds its inputs' plans and
  * relations.
  */
private[pipeline] object Served {

  /** Entries kept at most, as many as the tables `LakeReader` keeps open. */
  private val MaxResults = 32

  /** A relation compared by identity. */
  private final class Same(val relation: AnyRef) {
    override def equals(o: Any): Boolean = o match {
      case s: Same => s.relation eq relation
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(relation)
  }

  private final case class Key(spark: SparkSession, confs: Map[String, String], call: Seq[Any],
                               plans: Seq[LogicalPlan], relations: Seq[Same])

  /** A kept result: a one-partition frame over its rows, and their size. */
  private final case class Kept(rows: DataFrame, bytes: Long)

  private val kept = new java.util.LinkedHashMap[Key, Kept](16, 0.75f, true)
  private var keptBytes = 0L

  /** `query`'s result, served from the kept rows of `call` over
    * `inputs` (the frames `query` reads), or computed and kept. */
  def apply(call: Seq[Any], inputs: DataFrame*)(query: => DataFrame): DataFrame = {
    val spark = inputs.head.sparkSession
    val bound = spark.sessionState.conf.autoBroadcastJoinThreshold
    keyOf(spark, call, inputs).filter(_ => bound >= 0) match {
      case None => query
      case Some(key) =>
        kept.synchronized(Option(kept.get(key))) match {
          case Some(k) => fresh(k.rows)
          case None =>
            val df = query
            collectWithin(df, bound).fold(df) { case (rows, bytes) =>
              val k = Kept(spark.createDataFrame(rows.asJava, df.schema).coalesce(1), bytes)
              keep(key, k, bound)
              fresh(k.rows)
            }
        }
    }
  }

  /** The calls of the kept entries, least recently used first. */
  private[pipeline] def keptCalls: Seq[Seq[Any]] =
    kept.synchronized(kept.keySet.asScala.toSeq.map(_.call))

  private def keyOf(spark: SparkSession, call: Seq[Any], inputs: Seq[DataFrame]): Option[Key] = {
    val plans = inputs.map(_.queryExecution.analyzed)
    val stable = plans.forall(p => !p.isStreaming && p.collectLeaves().forall {
      case LogicalRelation(_: HadoopFsRelation, _, _, _, _) | _: LocalRelation => true
      case _ => false
    } && !p.exists(_.expressions.exists(!_.deterministic)))
    Option.when(stable)(Key(spark, spark.sessionState.conf.getAllConfs, call,
      plans.map(_.canonicalized),
      plans.flatMap(_.collectLeaves().collect { case l: LogicalRelation => new Same(l.relation) })))
  }

  /** A new frame over the kept rows: the same columns under fresh ids. */
  private def fresh(rows: DataFrame): DataFrame =
    rows.select(rows.columns.toSeq.map(c => rows.col(s"`${c.replace("`", "``")}`").as(c)): _*)

  private def keep(key: Key, k: Kept, bound: Long): Unit = kept.synchronized {
    Option(kept.put(key, k)).foreach(old => keptBytes -= old.bytes)
    keptBytes += k.bytes
    val eldest = kept.entrySet.iterator
    while (keptBytes > bound || kept.size > MaxResults) {
      keptBytes -= eldest.next().getValue.bytes
      eldest.remove()
    }
  }

  /** `df`'s rows in order, with their size in bytes, or None once
    * they pass `bound`. One job: each task stops reading its partition
    * past the bound, and the driver drops every result once the sum of
    * the arrived ones is past it. */
  private def collectWithin(df: DataFrame, bound: Long): Option[(Seq[Row], Long)] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.executedPlan.execute()
      val parts = new Array[Array[UnsafeRow]](rdd.getNumPartitions)
      var bytes = 0L
      rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        val out = ArrayBuffer.empty[UnsafeRow]
        var size = 0L
        while (size <= bound && it.hasNext) {
          val row = it.next().asInstanceOf[UnsafeRow].copy()
          size += row.getSizeInBytes
          out += row
        }
        out.toArray
      }, (i: Int, rows: Array[UnsafeRow]) => {
        if (bytes <= bound) {
          bytes += rows.iterator.map(_.getSizeInBytes.toLong).sum
          parts(i) = rows
        }
        if (bytes > bound) parts.indices.foreach(parts(_) = null)
      })
      Option.when(bytes <= bound) {
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        (parts.toSeq.flatMap(_.iterator.map(r => toRow(r).asInstanceOf[Row])), bytes)
      }
    }
  }
}
