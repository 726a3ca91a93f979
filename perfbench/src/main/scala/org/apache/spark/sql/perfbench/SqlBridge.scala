package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Read-only access to Spark listener state the public API keeps
  * package-private: the query execution an SQL-execution-end event
  * carries (it covers every session, including the engine's isolated
  * contract sessions, which a per-session QueryExecutionListener misses),
  * and a drain of the listener bus so counts are complete when read. */
object SqlBridge {

  /** Scan and write counters of one finished query. */
  final case class QueryStats(
      phasesMs: Map[String, (Long, Long)], // phase -> (start, end) epoch ms
      filesScanned: Long, rowsScanned: Long,
      filesWritten: Long, bytesWritten: Long, rowsWritten: Long)

  /** The finished query and its end time (epoch ms). */
  def executionEnd(e: SparkListenerEvent): Option[(QueryExecution, Long)] = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null && end.executionFailure.isEmpty =>
      Some((end.qe, end.time))
    case _ => None
  }

  private object helper extends AdaptiveSparkPlanHelper

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def stats(qe: QueryExecution): QueryStats = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val plan = qe.executedPlan
    val scans = helper.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    val writes = helper.collect(plan) { case w: DataWritingCommandExec => w }
    def wm(name: String) = writes.map(w =>
      w.cmd.metrics.get(name).map(_.value).getOrElse(0L)).sum
    QueryStats(phases,
      scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "numOutputRows")).sum,
      wm("numFiles"), wm("numOutputBytes"), wm("numOutputRows"))
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.Bus.drain(sc)
}
