package graftbench

import java.io.PrintWriter
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval; times are epoch nanoseconds, parent -1 = root. */
final case class TSpan(id: Int, parent: Int, name: String, start: Long, end: Long)

/** What one Spark task did, filed under the benchmark span whose call
  * launched its job. */
final case class TaskRec(span: Int, stage: Int, durMs: Long, runMs: Long, gcMs: Long,
    shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long, outBytes: Long)

/** Spans around the benchmark's calls into graft, kept in memory and
  * written once at the end. When off, [[span]] only runs its body. */
final class Tracer(val runId: String) {
  @volatile var on = false
  private val nanos0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val spans = ArrayBuffer.empty[TSpan]
  private var stack: List[Int] = Nil
  private var lastId = 0
  private var sc: SparkContext = _

  def now(): Long = epoch0 + (System.nanoTime() - nanos0)
  def newId(): Int = synchronized { lastId += 1; lastId }
  def add(s: TSpan): Unit = synchronized { spans += s }
  def all: Seq[TSpan] = synchronized { spans.toList }
  def lastId(name: String): Int = synchronized { spans.findLast(_.name == name).map(_.id).getOrElse(-1) }

  /** Jobs submitted from this thread carry the innermost open span. */
  def bind(context: SparkContext): Unit = { sc = context; publish() }
  private def publish(): Unit =
    if (sc != null) sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.toString).orNull)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(-1)
      val start = now()
      stack = id :: stack
      publish()
      try body
      finally {
        stack = stack.tail
        publish()
        add(TSpan(id, parent, name, start, now()))
      }
    }

  /** Ids of `id` and every span below it. */
  def subtree(id: Int): Set[Int] = {
    val kids = all.groupBy(_.parent)
    def go(i: Int): Set[Int] = kids.getOrElse(i, Nil).map(s => go(s.id)).foldLeft(Set(i))(_ ++ _)
    go(id)
  }

  /** Per span name: summed duration minus the part its children cover. */
  def selfSeconds: Map[String, Double] = {
    val spansNow = all
    val kids = spansNow.groupBy(_.parent)
    spansNow.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
          }._1
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val out = new PrintWriter(Files.newBufferedWriter(path))
    try all.foreach { s =>
      out.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    } finally out.close()
  }
}

object Tracer { val Prop = "graftbench.span" }

/** Adds Spark jobs and stages to the trace as children of the benchmark
  * span that launched them, and keeps each task's metrics. */
final class Recorder(tr: Tracer) extends SparkListener {
  private val openJobs = mutable.Map.empty[Int, (Int, Int, Long)] // job -> (span, parent, start)
  private val stageJob = mutable.Map.empty[Int, Int]               // stage -> job span
  private val stageOwner = mutable.Map.empty[Int, Int]             // stage -> benchmark span
  private val recs = ArrayBuffer.empty[TaskRec]
  private val jobCount = mutable.Map.empty[Int, Int].withDefaultValue(0)

  def tasks: Seq[TaskRec] = synchronized { recs.toList }
  def jobsUnder(spans: Set[Int]): Int = synchronized { spans.iterator.map(jobCount).sum }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(-1)
    val id = tr.newId()
    openJobs(e.jobId) = (id, owner, e.time * 1000000L)
    e.stageIds.foreach { s => stageJob(s) = id; stageOwner(s) = owner }
    jobCount(owner) += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (id, owner, start) =>
      tr.add(TSpan(id, owner, "spark.job", start, e.time * 1000000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      tr.add(TSpan(tr.newId(), stageJob.getOrElse(i.stageId, -1), "spark.stage",
        s * 1000000L, c * 1000000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      recs += TaskRec(stageOwner.getOrElse(e.stageId, -1), e.stageId, e.taskInfo.duration,
        m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten)
  }
}
