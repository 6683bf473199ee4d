package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: scan every query's physical plan for scale red flags —
  * cartesian products, unbroadcast nested-loop joins, global windows/sorts
  * that move all rows to one partition — and print its Exchange count
  * (shuffle, broadcast and reused exchange nodes), the plan-shape figure
  * to compare across commits. One line per query: name, Exchanges, flags. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Tables.configure(SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val flags = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "NestedLoopNonBroadcast" -> (plan.contains("NestedLoop") && !plan.contains("BroadcastNestedLoop")),
          "GlobalWindow" -> plan.linesIterator.exists(l =>
            l.contains("Window") && l.contains("partitionBy=[]") && !l.contains("partitionBy=[%")),
          "SinglePartWindow" -> (plan.contains("Window [") && plan.contains("windowspecdefinition()"))
        ).collect { case (f, true) => f }
        val exchanges = plan.linesIterator.count(_.contains("Exchange"))
        println(s"$name\t$exchanges\t${if (flags.isEmpty) "ok" else flags.mkString(",")}")
      } catch { case e: Throwable => println(s"$name\tERROR ${e.getMessage.take(80)}") }
    }
    spark.stop()
  }
}
