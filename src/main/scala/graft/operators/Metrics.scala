package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.concurrent.TrieMap

/** Observability — the reference's windowed sensors
  * (`metrics/MetricsRegistry.java:52-120`: segment-copy-time,
  * segment-delete-bytes, fetch-requested-bytes, …) re-expressed Spark-first:
  * `df.observe(...)` named metrics harvested by a `QueryExecutionListener`.
  * Works identically in batch and Structured Streaming (observed metrics
  * flow through `StreamingQueryProgress`).
  */
object Metrics {

  /** Instrument an upload-result frame with the reference's copy sensors. */
  def observeUpload(df: DataFrame): DataFrame =
    df.observe("segment-copy",
      count(lit(1)).as("segments"),
      sum(col("orig_size")).as("bytes-in"),
      sum(col("transformed_size")).as("bytes-out"),
      sum(when(col("success"), 0L).otherwise(1L)).as("errors"))

  /** Collects observed metrics per named observation point. */
  final class Collector extends QueryExecutionListener {
    val seen: TrieMap[String, Map[String, Any]] = TrieMap.empty
    private def harvest(qe: QueryExecution): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        seen.put(name, row.schema.fieldNames.zip(row.toSeq).toMap)
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = harvest(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = harvest(qe)
  }

  def register(spark: SparkSession): Collector = {
    val c = new Collector
    spark.listenerManager.register(c)
    c
  }
}
