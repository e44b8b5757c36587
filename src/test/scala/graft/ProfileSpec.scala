package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** graft.tools.Profile's per-query JSON on both extraction layouts: every
  * field present, and the numbers consistent with each other — at least
  * one stage, skew and stage cover in range, bytes allocated on executor
  * task threads, and every task belonging to a listed stage. */
class ProfileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"
  private val mapper = new ObjectMapper()

  private val fields = Seq("name", "runs_s", "min_s", "jobs", "stages", "tasks",
    "task_max_over_median", "shuffle_write_bytes", "shuffle_records", "spill_bytes",
    "gc_frac", "stage_cover", "alloc_task_bytes", "alloc_other_bytes", "per_stage")
  private val stageFields = Seq("id", "name", "tasks", "wall_ms", "task_median_ms",
    "task_max_ms", "gc_ms", "input_bytes", "shuffle_write_bytes", "spill_bytes")

  test("q_extract_flagship and q_extract_presplit: every field, consistent numbers") {
    val names = Seq("q_extract_flagship", "q_extract_presplit")
    val profiles = Profile.queries(spark, sfDir, 1, names)
    assert(profiles.map(_.name) == names)
    profiles.foreach { p =>
      val q = mapper.readTree(p.json)
      fields.foreach(f => assert(q.has(f), s"${p.name}: no $f"))
      assert(q.get("name").asText == p.name)
      assert(q.get("runs_s").size == 1)
      assert(q.get("min_s").asDouble > 0)
      assert(q.get("jobs").asLong >= 1)
      assert(q.get("stages").asLong >= 1)
      assert(q.get("task_max_over_median").asDouble >= 1.0)
      val gc = q.get("gc_frac").asDouble
      assert(gc >= 0.0 && gc <= 1.0)
      // the extraction runs on executor task threads
      assert(q.get("alloc_task_bytes").asLong > 0 && q.get("alloc_other_bytes").asLong >= 0)
      val cover = q.get("stage_cover").asDouble
      assert(cover > 0.0 && cover <= 1.0, s"${p.name}: stage_cover $cover")
      val stages = q.get("per_stage").elements.asScala.toSeq
      assert(stages.size == q.get("stages").asInt)
      stages.foreach(s => stageFields.foreach(f => assert(s.has(f), s"${p.name}: stage without $f")))
      assert(stages.map(_.get("tasks").asLong).sum == q.get("tasks").asLong)
    }
  }

  test("an unknown query name fails, naming it") {
    val e = intercept[IllegalArgumentException](
      Profile.queries(spark, sfDir, 1, Seq("q_extract_flagship", "q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
  }
}
