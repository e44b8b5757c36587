package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Debug utility: run any registered SparkEntry query once and print its
  * formatted FINAL adaptive plan — the joins and exchanges AQE actually
  * chose, which the pre-execution plan does not show. Usage:
  *   sbt "runMain graft.tools.QueryExplain <sfDir> <queryName> [queryName...]"
  */
object QueryExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      println(s"===== $name =====")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // run the plan instance that explain prints: an action on the
      // Dataset would plan and run a copy of it
      val qe = df.queryExecution
      SQLExecution.withNewExecutionId(qe)(qe.executedPlan.execute().foreach(_ => ()))
      df.explain("formatted")
      graft.queries.QCache.releaseScoped()
    }
    spark.stop()
  }
}
