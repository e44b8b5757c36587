package graft.tools

import org.apache.spark.sql.SparkSession

import graft.queries.Tables

/** Debug utility: run an arbitrary Spark SQL statement against the
  * testdata tables (registered as temp views). Usage:
  *   sbt "runMain graft.tools.SqlRun <sfDir> <sql>"
  */
object SqlRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val sql = args(1)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      Tables.read(spark, sfDir, t).createOrReplaceTempView(t)
    }
    spark.sql(sql).show(200, truncate = false)
    spark.stop()
  }
}
