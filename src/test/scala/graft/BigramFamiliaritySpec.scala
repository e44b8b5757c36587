package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QCache, TextAnalysisQ}

/** q_bigram_familiarity reads its per-doc bigram histogram twice (the
  * global count and the per-doc join against it), and Catalyst does not
  * reuse the exchange across the broadcast boundary: only the histogram's
  * scoped cache keeps the bigram ScalaUDF — the query's kernel — from
  * running once per reader. */
class BigramFamiliaritySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("bigram").toString
    (0L until 20L).map(i => (i, s"the quick brown fox $i jumps over the lazy dog ${i % 3}"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** Executed copies of the UDF's Generate: those in the plan itself
    * plus those inside each distinct cached relation it scans. */
  private def udfGenerates(p: SparkPlan): Int = {
    val own = collect(p) {
      case g: GenerateExec if g.generator.find(_.isInstanceOf[ScalaUDF]).isDefined => g
    }.size
    val cached = collect(p) { case m: InMemoryTableScanExec => m.relation.cacheBuilder }.distinct
    own + cached.map(cb => udfGenerates(cb.cachedPlan)).sum
  }

  test("the bigram UDF runs once: both readers share one histogram") {
    val df = TextAnalysisQ.qBigramFamiliarity(spark, dir)
    try {
      assert(df.collect().length == 20)
      assert(udfGenerates(df.queryExecution.executedPlan) == 1)
    } finally QCache.releaseScoped(blocking = true)
  }
}
