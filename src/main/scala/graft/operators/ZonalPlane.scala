package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{ExplainUtils, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.GraftExtensions

/** Logical node of the zonal kernel ([[Zonal.Kernel]]) over the aligned
  * tile rows of its child. It produces the plane columns and reads
  * every child column, so column pruning never narrows the child.
  */
private[graft] final case class ZonalPlane(kernel: Zonal.Kernel, output: Seq[Attribute],
                                           child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(c: LogicalPlan): ZonalPlane = copy(child = c)
}

private[graft] object ZonalPlane {
  /** `kernel` over the aligned tile rows of `aligned`. */
  def of(aligned: DataFrame, kernel: Zonal.Kernel): DataFrame =
    GraftExtensions.ofPlan(aligned.sparkSession, ZonalPlane(kernel,
      DataTypeUtils.toAttributes(Zonal.planeSchema), aligned.queryExecution.analyzed))
}

/** Physical zonal kernel: maps each partition of aligned tile rows
  * through [[Zonal.Kernel.run]] and owns the kernel's counters.
  */
private[graft] final case class ZonalPlaneExec(kernel: Zonal.Kernel, output: Seq[Attribute],
                                               child: SparkPlan) extends UnaryExecNode {
  override def nodeName: String = "ZonalPlaneExec"
  override def producedAttributes: AttributeSet = outputSet

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "tilesIn" -> SQLMetrics.createMetric(sparkContext, "tiles in"),
    "envelopeSkips" -> SQLMetrics.createMetric(sparkContext, "envelope skips"),
    "maskedPixels" -> SQLMetrics.createMetric(sparkContext, "masked pixels"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "group rows out"),
    "kernelTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "kernel time"))

  override protected def doExecute(): RDD[InternalRow] = {
    val k = kernel
    val m = ZonalPlaneExec.Metrics(metrics("tilesIn"), metrics("envelopeSkips"),
      metrics("maskedPixels"), metrics("numOutputRows"), metrics("kernelTime"))
    child.execute().mapPartitions(k.run(_, m))
  }

  override def verboseStringWithOperatorId(): String =
    s"""$formattedNodeName
       |${ExplainUtils.generateFieldString("Input", child.output)}
       |Arguments: $kernel
       |Metrics: ${metrics.toSeq.sortBy(_._1).map { case (_, mt) => metricString(mt) }.mkString(", ")}
       |""".stripMargin

  private def metricString(mt: SQLMetric): String =
    if (mt.metricType == "nsTiming") f"${mt.name.getOrElse("")}=${mt.value / 1e6}%.1f ms"
    else s"${mt.name.getOrElse("")}=${mt.value}"

  override protected def withNewChildInternal(c: SparkPlan): ZonalPlaneExec = copy(child = c)
}

private[graft] object ZonalPlaneExec {
  final case class Metrics(tilesIn: SQLMetric, envelopeSkips: SQLMetric,
                           maskedPixels: SQLMetric, rowsOut: SQLMetric, kernelTime: SQLMetric)
}

/** Plans [[ZonalPlane]] as [[ZonalPlaneExec]]; installed by
  * `GraftExtensions`.
  */
object ZonalPlaneStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ZonalPlane(kernel, output, child) => ZonalPlaneExec(kernel, output, planLater(child)) :: Nil
    case _ => Nil
  }
}
