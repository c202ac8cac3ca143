package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** What the warehouse read for a set of executed queries, from the SQL
  * metrics of their file scans (adaptive query stages and subqueries
  * included): files, bytes and rows scanned. */
object Scans extends AdaptiveSparkPlanHelper {

  def of(dfs: Seq[DataFrame]): Map[String, Any] = {
    val scans = dfs.flatMap(df =>
      collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s })
    def total(metric: String) = scans.flatMap(_.metrics.get(metric)).map(_.value).sum
    Map("files_read" -> total("numFiles"), "bytes_read" -> total("filesSize"),
      "rows_scanned" -> total("numOutputRows"))
  }
}
