package perfbench

import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** File-scan SQL metrics of an executed plan, through adaptive stages. */
object ScanMetrics extends AdaptiveSparkPlanHelper {

  /** (files read, bytes of those files) per file scan in `plan`. */
  def fileScans(plan: SparkPlan): Seq[(Long, Long)] =
    collectWithSubqueries(plan) { case s: FileSourceScanLike =>
      def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      (m("numFiles"), m("filesSize"))
    }
}
