package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QCache

/** Outputs are graded as row sets (SparkEntry scaladoc), so no registered
  * query may end in a global sort: it costs two jobs and two stages that
  * nothing reads. A sort that feeds a `limit` plans as a `Limit` root and
  * passes. Builds every query once at sf0.001 in one session and reads
  * only its optimized logical plan; the query is never run to a sink. */
class NoFinalSortSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // a projection over a global sort keeps the sort's exchange
  private def root(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, child) => root(child)
    case _ => p
  }

  test("no SparkEntry.queries entry ends in a global Sort") {
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try root(fn(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan) match {
        case s: Sort if s.global => Some(name)
        case _ => None
      }
      finally QCache.releaseScoped()
    }
    assert(sorted.isEmpty,
      s"${sorted.size} queries end in a global Sort: ${sorted.mkString(", ")}")
  }
}
