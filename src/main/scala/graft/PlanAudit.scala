package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit main: prints the formatted physical plan of selected
  * queries (SPARK_GRAFT_ONLY prefix filter) against a given SF dir.
  * Used to eyeball PushedFilters / ReadSchema / broadcast choices /
  * WholeStageCodegen spans; PlanSpec asserts the critical properties.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Sessions.local("graft-plan-audit",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        println(fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted")))
      }
    spark.stop()
  }
}
