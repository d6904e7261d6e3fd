package graft.meta

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Load-audit log — the reference's `consumo_dados` table
  * (utils/load_info.py:50-103, written per load at fast_etl.py:347-352):
  * one row per load with (source, schema, table, user, load type,
  * timestamp, row count).
  *
  * The row count comes from `df.observe` when attached to a live write
  * (zero extra scan) or from `count()` for a standalone audit.
  */
object LoadInfo {

  final case class Entry(
      no_vdb: String,
      no_schema: String,
      no_tabela: String,
      no_usuario: String,
      tp_carga: String, // "full" | "incremental"
      dt_consumo: Timestamp,
      qt_linhas: Long)

  def auditRow(
      spark: SparkSession,
      vdb: String, schema: String, table: String, user: String,
      loadType: String, at: Timestamp, rowCount: Long): DataFrame = {
    import spark.implicits._
    Seq(Entry(vdb, schema, table, user, loadType, at, rowCount)).toDF()
  }

  /** Audit a copied DataFrame: counts with one aggregate (the scan is the
    * copy's own scan when the caller reuses a cached plan). */
  def audit(
      df: DataFrame,
      vdb: String, schema: String, table: String, user: String,
      loadType: String, at: Timestamp): DataFrame =
    auditRow(df.sparkSession, vdb, schema, table, user, loadType, at,
      df.count())

  /** Zero-extra-scan variant: attach an `observe` metric to the load plan
    * and register a QueryExecutionListener that invokes `onAudit` with
    * the observed row count when the write completes — the reference's
    * save_load_info epilogue (fast_etl.py:345-352) without a second pass
    * over the data. Returns the instrumented DataFrame to write.
    *
    * The metric is named `observationName` plus a suffix unique to the
    * call, so two loads observed under one name each get their own count.
    * The listener removes itself after the first query that carries the
    * metric: on success it calls `onAudit` first; on failure it never
    * does (a failed write's count may be partial, as `Observation` would
    * report it). A failed query that does not carry the metric leaves it
    * listening. */
  def observed(
      df: DataFrame, observationName: String,
      onAudit: Long => Unit): DataFrame = {
    val spark = df.sparkSession
    val name = s"$observationName#${java.util.UUID.randomUUID()}"
    val instrumented = df.observe(name, count(lit(1)).as("rows"))
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get(name).foreach { row =>
          try onAudit(row.getAs[Long]("rows"))
          finally spark.listenerManager.unregister(this)
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit =
        if (carries(qe.logical, name)) spark.listenerManager.unregister(this)
    }
    spark.listenerManager.register(listener)
    instrumented
  }

  /** Whether `plan` (its children, and inner plans such as a write
    * command's query) holds the observation `name`. */
  private def carries(plan: TreeNode[_], name: String): Boolean =
    plan match {
      case c: CollectMetrics => c.name == name
      case p => (p.children ++ p.innerChildren).exists {
        case t: TreeNode[_] => carries(t, name)
        case _ => false
      }
    }
}
