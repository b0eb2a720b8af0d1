package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` groups the spans of one benchmark
  * operation (a pipeline increment, a page view, a query). */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int, val start: Long) {
  var end: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def toJson: Map[String, Any] = Map("id" -> id, "name" -> name, "parent" -> parent, "op" -> op,
    "start" -> start / 1e9, "end" -> end / 1e9, "counters" -> counters.toMap)
}

/** Span recorder for the traced run; a pass-through when tracing is off.
  *
  * Spark's listener events arrive on the listener-bus thread after the
  * call that caused them. One thread makes every call here, so the bus
  * is drained whenever a span opens or closes: every event processed in
  * between belongs to the innermost span open at that moment, and the
  * listeners add its counters there. Drain time falls outside the span's
  * own interval and shows only as tracing overhead. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val origin = System.nanoTime()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var current: Span = _
  private var ops = 0
  /** One entry per streaming trigger: (span id, durationMs phases, state rows). */
  val triggers: mutable.ArrayBuffer[(Int, Map[String, Long], Long)] = mutable.ArrayBuffer.empty

  def newOp(): Int = { ops += 1; ops }

  def span[A](name: String, op: Int)(body: => A): A =
    if (!enabled) body
    else {
      drain()
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, System.nanoTime() - origin)
      spans += s
      stack = s :: stack
      current = s
      try body
      finally {
        s.end = System.nanoTime() - origin
        drain()
        stack = stack.tail
        current = stack.headOption.orNull
      }
    }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  private def attribute(f: Span => Unit): Unit = {
    val s = current
    if (s != null) f(s)
  }

  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = attribute(_.add("jobs", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = attribute { s =>
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.add("task_s", m.executorRunTime / 1e3)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = attribute { s =>
      s.add("stages", 1)
      stageTasks.remove(e.stageInfo.stageId).filter(_.size > 1).foreach { ds =>
        val sorted = ds.sorted
        s.add("stage_task_max_s", sorted.last / 1e3)
        s.add("stage_task_median_s", sorted(sorted.size / 2) / 1e3)
      }
    }
  }

  private object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      attribute { s =>
        s.add("sql_executions", 1)
        collect(qe.executedPlan) {
          case scan: FileSourceScanExec => scan.metrics
          case w: DataWritingCommandExec => w.cmd.metrics.map { case (k, v) => ("write." + k, v) }
        }.foreach { metrics =>
          def take(key: String, name: String): Unit =
            metrics.get(key).foreach(m => s.add(name, m.value.toDouble))
          take("numOutputRows", "scan_rows")
          take("numFiles", "scan_files")
          take("write.numFiles", "write_files")
          take("write.numOutputBytes", "write_bytes")
          take("write.numOutputRows", "write_rows")
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      attribute(_.add("sql_failures", 1))
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      attribute { s =>
        val p = e.progress
        val d = p.durationMs
        val phases = Seq("triggerExecution", "addBatch", "walCommit")
          .map(k => k -> Option(d.get(k)).fold(0L)(_.longValue)).toMap
        triggers += ((s.id, phases, p.stateOperators.map(_.numRowsTotal).sum))
      }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
  }

  def close(): Unit = if (enabled) drain()

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.map(_.toJson).toSeq,
    "triggers" -> triggers.map { case (sp, ph, rows) =>
      Map("span" -> sp, "state_rows" -> rows) ++ ph.map { case (k, v) => (k + "_ms") -> v }
    }.toSeq)
}
