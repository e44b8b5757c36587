package graft.tools

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.BenchCore

/** Layer profile of any registered query, as one JSON document. Runs
  * each named [[graft.SparkEntry]] query [[Profile.Warmups]] times
  * unrecorded, then `n` times into a noop sink, interleaved across
  * queries (adjacent runs see the same host throttle) with scoped
  * caches released after every run, as the battery does. Per query it
  * reports every run's wall time and, from the fastest run, its jobs,
  * stages and tasks, the DS2 skew signal (max / median task time in the
  * stage with the most task time), shuffle bytes and records, spill,
  * the GC share of task time, how much of the wall time some stage was
  * running (`stage_cover`), the bytes allocated by executor task threads
  * and by every other thread (`alloc_task_bytes`, `alloc_other_bytes`:
  * ThreadMXBean counters of the threads alive at both ends of the run,
  * so a thread born and gone within it is not counted), and a per-stage
  * table. A host block brackets all runs with the battery's CPU burn and
  * extraction-kernel calibrations and their clean gates.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <n> <q1,q2,...>
  * Cores come from SPARK_GRAFT_CPUS (default 32). For a CPU profile of
  * the same run, start the JVM with a flight recording:
  * GRAFT_JVM_EXTRA="-XX:StartFlightRecording=filename=/tmp/p.jfr,settings=profile",
  * then `jfr print --events jdk.ExecutionSample /tmp/p.jfr`.
  */
object Profile {

  private final case class Task(stage: Int, ms: Long, gcMs: Long, inBytes: Long,
                                shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long)

  /** What the listener bus reports of one run. */
  private final class RunLog extends SparkListener {
    var jobs = 0
    /** stage id -> (name, submitted, completed), epoch ms */
    val stages = mutable.Map.empty[Int, (String, Long, Long)]
    val tasks = mutable.ArrayBuffer.empty[Task]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stages(i.stageId) = (i.name, s, c)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null)
        tasks += Task(e.stageId, e.taskInfo.duration, m.jvmGCTime, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Unrecorded runs of each query before the recorded ones: a JVM's
    * first runs are still compiling, and min-of-5 read above steady state
    * without them. */
  final val Warmups = 2

  /** One run: wall seconds, its epoch-ms window, what the bus saw, and
    * the bytes allocated by task threads and by all other threads. */
  private final case class Run(wallS: Double, fromMs: Long, toMs: Long, log: RunLog,
                               taskAlloc: Long, otherAlloc: Long)

  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated so far by each live thread, by thread id. */
  private def allocated(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    val bytes = threads.getThreadAllocatedBytes(ids)
    ids.indices.collect { case i if bytes(i) >= 0 => ids(i) -> bytes(i) }.toMap
  }

  /** Bytes allocated since `before` by executor task threads and by
    * every other thread. */
  private def allocatedSince(before: Map[Long, Long]): (Long, Long) = {
    val after = allocated().toArray
    val infos = threads.getThreadInfo(after.map(_._1))
    after.indices.foldLeft((0L, 0L)) { case ((task, other), i) =>
      val (id, bytes) = after(i)
      val d = bytes - before.getOrElse(id, 0L)
      if (infos(i) != null && infos(i).getThreadName.startsWith("Executor task launch worker")) (task + d, other)
      else (task, other + d)
    }
  }

  private def run(spark: SparkSession, sfDir: String, query: (SparkSession, String) => DataFrame): Run = {
    val sc = spark.sparkContext
    val log = new RunLog
    sc.addSparkListener(log)
    val before = allocated()
    val fromMs = System.currentTimeMillis()
    try query(spark, sfDir).write.format("noop").mode("overwrite").save()
    finally graft.queries.QCache.releaseScoped() // every run starts cold, as in the battery
    val toMs = System.currentTimeMillis()
    val (taskAlloc, otherAlloc) = allocatedSince(before)
    // the listener bus is asynchronous and its drain is private[spark]
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    sc.removeSparkListener(log)
    Run((toMs - fromMs) / 1e3, fromMs, toMs, log, taskAlloc, otherAlloc)
  }

  private def median(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)

  /** One query's profile as JSON, and its GC share for the clean gate. */
  final case class QueryProfile(name: String, json: String, gcFrac: Double)

  private def profile(name: String, runs: Seq[Run]): QueryProfile = {
    val best = runs.minBy(_.wallS)
    val log = best.log
    def sum(ts: Iterable[Task])(f: Task => Long): Long = ts.iterator.map(f).sum
    val byStage = log.tasks.groupBy(_.stage).withDefaultValue(mutable.ArrayBuffer.empty[Task])
    val perStage = log.stages.toSeq.sortBy(_._1).map { case (id, (stageName, s, c)) =>
      val ts = byStage(id)
      val ms = ts.map(_.ms).toSeq
      s"""{"id":$id,"name":"${esc(stageName)}","tasks":${ts.size},"wall_ms":${c - s},""" +
        s""""task_median_ms":${median(ms)},"task_max_ms":${(0L +: ms).max},"gc_ms":${sum(ts)(_.gcMs)},""" +
        s""""input_bytes":${sum(ts)(_.inBytes)},"shuffle_write_bytes":${sum(ts)(_.shuffleBytes)},""" +
        s""""spill_bytes":${sum(ts)(_.spillBytes)}}"""
    }
    // DS2's skew signal, as perfbench's Extract.task_max_over_median:
    // max / median task time in the stage with the most task time
    val heaviest = (Seq(0L) +: byStage.values.map(_.map(_.ms).toSeq).toSeq).maxBy(_.sum)
    val skew = math.max(1L, heaviest.max).toDouble / math.max(1L, median(heaviest))
    val gcFrac = sum(log.tasks)(_.gcMs).toDouble / math.max(1L, sum(log.tasks)(_.ms))
    // union of the stages' submit->complete intervals, clipped to the run
    var covered = 0L
    var reach = best.fromMs
    log.stages.values.toSeq.map { case (_, s, c) => (math.max(s, best.fromMs), math.min(c, best.toMs)) }
      .sortBy(_._1).foreach { case (s, c) =>
        if (c > math.max(s, reach)) { covered += c - math.max(s, reach); reach = c }
      }
    val cover = covered.toDouble / math.max(1L, best.toMs - best.fromMs)
    val json =
      s"""{"name":"${esc(name)}","runs_s":[${runs.map(r => f"${r.wallS}%.3f").mkString(",")}],""" +
        f""""min_s":${best.wallS}%.3f,"jobs":${log.jobs},"stages":${log.stages.size},"tasks":${log.tasks.size},""" +
        f""""task_max_over_median":$skew%.3f,"shuffle_write_bytes":${sum(log.tasks)(_.shuffleBytes)},""" +
        s""""shuffle_records":${sum(log.tasks)(_.shuffleRecords)},"spill_bytes":${sum(log.tasks)(_.spillBytes)},""" +
        f""""gc_frac":$gcFrac%.4f,"stage_cover":$cover%.4f,""" +
        s""""alloc_task_bytes":${best.taskAlloc},"alloc_other_bytes":${best.otherAlloc},""" +
        perStage.mkString("\"per_stage\":[\n    ", ",\n    ", "]}")
    QueryProfile(name, json, gcFrac)
  }

  /** Profiles of the named queries, `n` interleaved runs each after
    * [[Warmups]] unrecorded ones, in the order named. Throws on a name
    * that is not a registered query. */
  def queries(spark: SparkSession, sfDir: String, n: Int, names: Seq[String]): Seq[QueryProfile] = {
    val qs = graft.SparkEntry.queries
    names.find(q => !qs.contains(q)).foreach(q => throw new IllegalArgumentException(s"unknown query: $q"))
    (1 to Warmups).foreach(_ => names.foreach(q => run(spark, sfDir, qs(q))))
    val runs = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Run]): _*)
    (1 to n).foreach(_ => names.foreach(q => runs(q) += run(spark, sfDir, qs(q))))
    runs.toSeq.map { case (q, rs) => profile(q, rs.toSeq) }
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, n, names) = args
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val (spark, _) = BenchCore.newSession(cores)
    // the first calibration of a fresh JVM carries JIT warm-up and
    // kernelWork's build: run one of each before the recorded ones
    BenchCore.burnSec(cores)
    BenchCore.kernelSec(cores)
    val (burn0, kernel0) = (BenchCore.burnSec(cores), BenchCore.kernelSec(cores))
    val profiles = queries(spark, sfDir, n.toInt, names.split(",").toSeq)
    val (burn1, kernel1) = (BenchCore.burnSec(cores), BenchCore.kernelSec(cores))
    spark.stop()
    val clean = math.max(burn0, burn1) <= BenchCore.BurnClean &&
      math.max(kernel0, kernel1) <= BenchCore.kernelCleanThreshold(cores) &&
      profiles.forall(_.gcFrac <= BenchCore.gcCleanThreshold(cores))
    println(
      s"""{"sf_dir":"${esc(sfDir)}","n":$n,"cores":$cores,""" +
        f""""host":{"burn_before_s":$burn0%.3f,"kernel_before_s":$kernel0%.3f,""" +
        f""""burn_after_s":$burn1%.3f,"kernel_after_s":$kernel1%.3f,"burn_clean_s":${BenchCore.BurnClean}%.2f,""" +
        f""""kernel_clean_s":${BenchCore.kernelCleanThreshold(cores)}%.2f,""" +
        f""""gc_clean_frac":${BenchCore.gcCleanThreshold(cores)}%.2f,"clean":$clean},""" +
        profiles.map(_.json).mkString("\n\"queries\":[\n  ", ",\n  ", "]}"))
  }
}
