package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, posexplode}

import graft.pipeline.Extract
import graft.resume.ResumableExtract

/** One benchmark run of one workload (see perfbench/NOTES.md).
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics; traced
  * (`--trace 1`) the per-layer metrics. Every workload is a closed loop
  * with one client, and every run checks its outputs against a
  * straight-line reference. The last stdout line is the result object;
  * everything else goes to stderr. Exit code 1 = an output check failed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val shape = opts.get("workload").flatMap(Shape.byName).getOrElse {
      System.err.println(s"unknown workload; one of: ${Shape.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val run = new Run(shape,
      seed = opts.get("seed").map(_.toLong).getOrElse(Check.DefaultSeed),
      seconds = opts.get("seconds").map(_.toDouble).getOrElse(10.0),
      traced = opts.get("trace").contains("1"),
      cores = opts.get("cores").map(_.toInt).getOrElse(4),
      work = Paths.get(opts.getOrElse("work", "perfbench-work")),
      traceOut = Paths.get(opts.getOrElse("trace-out", "perfbench-trace.jsonl")))
    val result = run.execute()
    println(result)
    System.out.flush()
    sys.exit(if (run.correct) 0 else 1)
  }
}

final class Run(shape: Shape, seed: Long, seconds: Double, traced: Boolean, cores: Int,
    work: Path, traceOut: Path) {

  /** Two waves, killed after the first: the smallest staged run that
    * has both committed and uncommitted buckets at the kill. */
  private val Buckets = 4
  private val WaveSize = 2
  private val KillAfterWaves = Buckets / WaveSize / 2
  private val SetupReps = 3
  /** Untimed passes before the timed loop: the JIT keeps speeding passes
    * up for about this long after set-up. */
  private val WarmSeconds = 3.0
  private val MinPasses = 4
  private val ResumeCycles = 3
  private val LayerReps = 3

  private val tr = new Tracer(s"${shape.name}-seed$seed-${System.currentTimeMillis()}")
  private var spark: SparkSession = _
  private var rec: Recorder = _
  private val problems = ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  private val inputDir = work.resolve("input").toString
  private val stageDir = work.resolve("staged").toString
  private var docs: Vector[BDoc] = _
  private var firstOutput: Map[String, Long] = _
  private var reference: Map[String, Long] = _
  private var nDocs = 0L
  private var nSpans = 0L

  def correct: Boolean = problems.isEmpty

  private def log(msg: String): Unit = System.err.println(s"[perfbench ${shape.name}] $msg")
  private def problem(msg: String): Unit = { problems += msg; log(s"CHECK FAILED: $msg") }
  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def fmt(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString(" ")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  // ---- session -------------------------------------------------------

  private def stop(): Unit = if (spark != null) { spark.stop(); spark = null; rec = null }

  private def open(threads: Int): Unit = {
    stop()
    spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      // the same plan at every thread count: only parallelism changes
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tr.bind(spark.sparkContext)
    if (traced) {
      rec = new Recorder(tr)
      spark.sparkContext.addSparkListener(rec)
    }
  }

  /** Runs `body`, then lets the listener catch up when tracing. */
  private def drained[T](body: => T): T = {
    val out = body
    if (rec != null) Bus.drain(spark.sparkContext)
    out
  }

  // ---- passes --------------------------------------------------------

  private def input(): DataFrame = spark.read.parquet(inputDir)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One closed-loop pass, Extract.run into a no-op sink; returns its
    * wall seconds, or None if it threw (then all its docs count failed). */
  private def pass(): Option[Double] = {
    val t0 = System.nanoTime()
    attempted += nDocs
    try {
      drained { tr.span("Extract.run") { noop(Extract.run(input())) } }
      Some(secondsSince(t0))
    } catch {
      case e: Exception =>
        failed += nDocs
        problem(s"a pass threw: $e")
        None
    }
  }

  /** Passes back to back for `budget` seconds (at least `minPasses`). */
  private def loop(budget: Double, minPasses: Int = MinPasses): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[Double]
    var tries = 0
    while (tries < minPasses || secondsSince(t0) < budget) {
      out ++= pass()
      tries += 1
    }
    out.toSeq
  }

  /** Output dir and timings of one resume cycle. */
  private final case class Cycle(out: String, killedS: Double, completedS: Double, resumeS: Double)

  private var cycles = 0

  /** The staged input through the resumable sink: killed after half its
    * waves, then resumed under a new attempt id into the same output. */
  private def resumeCycle(): Cycle = drained {
    cycles += 1
    attempted += nDocs
    val out = work.resolve(s"resumed-$cycles").toString
    val t0 = System.nanoTime()
    val killed =
      try {
        tr.span("ResumableExtract.runStaged") {
          ResumableExtract.runStaged(spark, stageDir, out, Buckets, WaveSize, s"k$cycles", KillAfterWaves)
        }
        false
      } catch { case e: RuntimeException if String.valueOf(e.getMessage).startsWith("injected failure") => true }
    if (!killed) problem(s"cycle $cycles: the staged run was not killed after $KillAfterWaves waves")
    val killedS = secondsSince(t0)
    val t1 = System.nanoTime()
    val done = tr.span("ResumableExtract.completedBuckets") { ResumableExtract.completedBuckets(spark, out) }
    val completedS = secondsSince(t1)
    if (done.size != KillAfterWaves * WaveSize)
      problem(s"cycle $cycles: ${done.size} buckets committed before the kill, expected ${KillAfterWaves * WaveSize}")
    val t2 = System.nanoTime()
    tr.span("ResumableExtract.runStaged") {
      ResumableExtract.runStaged(spark, stageDir, out, Buckets, WaveSize, s"r$cycles")
    }
    Cycle(out, killedS, completedS, secondsSince(t2))
  }

  // ---- checks --------------------------------------------------------

  private def checkDigests(what: String, got: Map[String, Long]): Map[String, Long] = {
    val bad = Check.mismatches(reference, got)
    failed += bad
    if (bad > 0) problem(s"$what: $bad of $nDocs docs missing or not equal to the reference")
    got
  }

  /** Collects one Extract.run output and checks it. */
  private def checkedRun(what: String): Map[String, Long] = {
    attempted += nDocs
    checkDigests(what, Check.rows(drained { tr.span("Extract.run") { Extract.run(input()).collect() } }))
  }

  /** Checks a resume cycle's output and lineage; returns (docs of buckets
    * committed before the kill that were extracted again, docs the resumed
    * attempt extracted / docs left uncommitted at the kill). */
  private def checkCycle(c: Cycle): (Double, Double) = {
    checkDigests(s"resumed output ${c.out}",
      Check.rows(spark.read.parquet(ResumableExtract.dataDir(c.out)).select("doc_id", "span_seq").collect()))
    val lineage = spark.read.parquet(ResumableExtract.lineageDir(c.out))
      .select("bucket", "n_docs", "attempt").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    val (killedRows, resumedRows) = lineage.partition(_._3.startsWith("k"))
    val twice = lineage.groupBy(_._1).collect { case (b, rows) if rows.size > 1 => b }
    if (twice.nonEmpty) problem(s"buckets committed more than once: ${twice.toSeq.sorted.mkString(",")}")
    if (lineage.map(_._1).toSet != (0 until Buckets).toSet) problem("lineage does not cover every bucket")
    val resumedBuckets = resumedRows.map(_._1).toSet
    val redo = killedRows.filter(r => resumedBuckets(r._1)).map(_._2).sum
    if (redo != 0) problem(s"$redo docs of buckets committed before the kill were extracted again")
    val left = nDocs - killedRows.map(_._2).sum
    (redo.toDouble, if (left > 0) resumedRows.map(_._2).sum.toDouble / left else Double.NaN)
  }

  /** The reference digests at the default seed must match the pinned ones. */
  private def pinCheck(): Unit = {
    val (pinHead, pinAll) = Check.Pinned.getOrElse(shape.name, ("", ""))
    val head = Check.output(Check.reference(Gen.docs(shape, Check.DefaultSeed, Check.PinnedDocs)))
    if (head != pinHead) problem(s"reference digest of the pinned docs is $head, pinned $pinHead")
    val all = Check.output(reference)
    if (seed == Check.DefaultSeed && all != pinAll)
      problem(s"default-seed output digest is $all, pinned $pinAll")
  }

  // ---- phases --------------------------------------------------------

  /** Session start, input generation and write, staging for the
    * resumable sink, and a warm-up pass; returns the rep's wall seconds
    * and the stageByBucket seconds. With `collect`, the warm-up pass
    * collects its output into [[firstOutput]] for the check. */
  private def setupRep(collect: Boolean): (Double, Double) = {
    stop()
    val t0 = System.nanoTime()
    open(cores)
    docs = Gen.docs(shape, seed)
    val sp = spark
    import sp.implicits._
    drained {
      tr.span("write_input") {
        spark.createDataset(spark.sparkContext.parallelize(docs, cores)).write.mode("overwrite").parquet(inputDir)
      }
    }
    val staged =
      if (shape.stagePreSplit)
        spark.createDataset(spark.sparkContext.parallelize(Gen.preSplit(docs, Extract.PartSize), cores)).toDF()
      else input()
    val ts = System.nanoTime()
    drained {
      tr.span("ResumableExtract.stageByBucket") {
        ResumableExtract.stageByBucket(spark, staged, stageDir, Buckets)
      }
    }
    val stageS = secondsSince(ts)
    drained {
      tr.span("Extract.run") {
        if (collect) firstOutput = Check.rows(Extract.run(input()).collect())
        else noop(Extract.run(input()))
      }
    }
    (secondsSince(t0), stageS)
  }

  def execute(): String = {
    val tStart = System.nanoTime()
    tr.on = traced
    // the first, cold set-up (never the median) collects the output checked below
    val setups = (1 to SetupReps).map(rep => tr.span("setup") { setupRep(collect = rep == 1) })
    nDocs = docs.size.toLong
    nSpans = docs.iterator.map(_.spans.size.toLong).sum
    log(s"$nDocs docs, $nSpans spans; setup ${fmt(setups.map(_._1))} s")
    docs.flatMap(_.spans).groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, ss) =>
      log(f"  $kind: ${ss.size} spans, mean ${ss.map(s => s.text.length + s.media_ref.length).sum.toDouble / ss.size}%.0f chars")
    }
    reference = tr.span("reference") { Check.reference(docs) }
    pinCheck()
    attempted += nDocs
    checkDigests(s"local[$cores] output", firstOutput)
    loop(WarmSeconds, minPasses = 1)

    if (traced) tracedPhases(setups.map(_._2)) else untracedPhases(setups.map(_._1))

    stop()
    docs = null
    reference = null
    firstOutput = null
    if (traced) tr.write(traceOut) else put("retained_heap_mb", retainedHeapMb(), "MiB")
    log(f"done in ${secondsSince(tStart)}%.1f s; ${problems.size} failed checks")
    Json.result(correct, attempted, failed, metrics.toSeq)
  }

  private def spansPerS(walls: Seq[Double]): Double = median(walls.map(nSpans / _))

  private def untracedPhases(setupWalls: Seq[Double]): Unit = {
    // local[N] passes in two halves around the local[1] passes, so that a
    // host slowing down or speeding up during the run shifts both sides of
    // scaling_eff_1v4 alike
    def timedHalf(): (Seq[Double], Long) = {
      val a0 = Alloc.snapshot()
      val walls = loop(seconds / 2, minPasses = 2)
      (walls, Alloc.since(a0))
    }
    val (first, allocFirst) = timedHalf()
    // the first local[1] pass is the warm-up and the local[1] == local[N] check
    open(1)
    if (checkedRun("local[1] output") != firstOutput) problem(s"local[1] output differs from local[$cores] output")
    val ones = loop(seconds * 0.75)
    open(cores)
    pass()
    val (second, allocSecond) = timedHalf()
    val main = first ++ second
    val allocated = allocFirst + allocSecond
    log(s"local[$cores] passes: ${fmt(first)} | ${fmt(second)}; local[1] passes: ${fmt(ones)}")

    // one staged run killed and resumed, for the sink's output and lineage
    // checks; its times are per-layer metrics of the traced run
    val (_, workRatio) = checkCycle(resumeCycle())

    put("spans_per_s", spansPerS(main), "spans/s")
    put("docs_per_s", median(main.map(nDocs / _)), "docs/s")
    put("scaling_eff_1v4", spansPerS(main) / (cores * spansPerS(ones)), "ratio")
    put("setup_s", median(setupWalls), "s")
    put("resume_work_ratio", workRatio, "ratio")
    put("docs_ok_ratio", 1.0 - failed.toDouble / attempted, "ratio")
    put("alloc_bytes_per_span", allocated.toDouble / (nSpans * main.size), "B/span")
  }

  private def tracedPhases(stageWalls: Seq[Double]): Unit = {
    def tracing(enabled: Boolean): Unit = {
      tr.on = enabled
      spark.sparkContext.removeSparkListener(rec)
      if (enabled) spark.sparkContext.addSparkListener(rec)
    }
    // tracing overhead: the closed loop with tracing off and on, alternating
    val off, on = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2 * MinPasses || secondsSince(t0) < seconds) {
      tracing(i % 2 == 1)
      pass().foreach(w => (if (tr.on) on else off) += w)
      i += 1
    }
    tracing(true)

    // layer passes: the scan alone, extraction alone, the whole job
    val scanS, extractS, runS = ArrayBuffer.empty[Double]
    val runSpans = ArrayBuffer.empty[Int]
    def timed(into: ArrayBuffer[Double], name: String)(body: => Unit): Int = {
      val t = System.nanoTime()
      drained { tr.span(name) { body } }
      into += secondsSince(t)
      tr.lastId(name)
    }
    (1 to LayerReps).foreach { _ =>
      timed(scanS, "scan") { noop(input().select(col("doc_id"), posexplode(col("spans")))) }
      timed(extractS, "Extract.extractSpans") { noop(Extract.extractSpans(input())) }
      runSpans += timed(runS, "Extract.run") { noop(Extract.run(input())) }
    }
    val runTasks = runSpans.toSeq.map(id => rec.tasks.filter(_.span == id))
    def perRun(f: TaskRec => Long): Double = runTasks.flatten.map(f).sum.toDouble / LayerReps
    val taskS = perRun(_.durMs) / 1000
    val stitchS = median(runS.toSeq) - median(extractS.toSeq)
    // skew: max / median task time in the stage with the most task time
    val skew = median(runTasks.map { ts =>
      val heaviest = ts.groupBy(_.stage).values.maxBy(_.map(_.durMs).sum).map(_.durMs.toDouble)
      heaviest.max / math.max(1.0, median(heaviest))
    })

    // the resumable sink: one cycle that runs its code cold, then timed ones
    resumeCycle()
    val cyc = (1 to ResumeCycles).map { _ =>
      val c = tr.span("resume_cycle") { resumeCycle() }
      (c, tr.subtree(tr.lastId("resume_cycle")))
    }
    val (redo, _) = checkCycle(cyc.last._1)
    val jobs = cyc.map { case (_, ids) => rec.jobsUnder(ids).toDouble }
    val written = cyc.map { case (_, ids) => rec.tasks.filter(t => ids(t.span)).map(_.outBytes).sum.toDouble }
    val lineage = spark.read.parquet(ResumableExtract.lineageDir(cyc.last._1.out))

    // the kernels, single-threaded, on this workload's own spans
    val kernels = Probe.run(docs, tr)
    kernels.foreach { case (n, v, u) => put(n, v, u) }
    val kernelS = Seq("html", "pdf_layout", "media").map { kind =>
      val ns = kernels.collectFirst { case (n, v, _) if n == s"SpanExtract.$kind.ns_per_span" => v }.get
      ns * docs.iterator.map(_.spans.count(_.kind == kind)).sum / 1e9
    }.sum

    put("SpanExtract.task_share", kernelS / taskS, "ratio")
    put("Extract.scan_s", median(scanS.toSeq), "s")
    put("Extract.extract_s", median(extractS.toSeq), "s")
    put("Extract.gc_frac", perRun(_.gcMs) / perRun(_.runMs), "ratio")
    put("Extract.task_s", taskS, "s")
    put("Extract.shuffle_write_bytes", perRun(_.shuffleBytes), "B")
    put("Extract.shuffle_records", perRun(_.shuffleRecords), "count")
    put("Extract.shuffle_bytes_per_span", perRun(_.shuffleBytes) / nSpans, "B/span")
    put("Extract.spill_bytes", perRun(_.spillBytes), "B")
    put("Extract.stitch_s", stitchS, "s")
    put("Extract.stitch_share", stitchS / median(runS.toSeq), "ratio")
    put("Extract.task_max_over_median", skew, "ratio")
    put("Extract.stages", runTasks.map(_.map(_.stage).distinct.size).sum.toDouble / LayerReps, "count")
    put("ResumableExtract.stage_s", median(stageWalls), "s")
    put("ResumableExtract.killed_attempt_s", median(cyc.map(_._1.killedS)), "s")
    put("ResumableExtract.completed_buckets_s", median(cyc.map(_._1.completedS)), "s")
    put("ResumableExtract.resume_s", median(cyc.map(_._1.resumeS)), "s")
    put("ResumableExtract.waves", lineage.select("attempt", "wave").distinct().count().toDouble, "count")
    put("ResumableExtract.jobs", median(jobs), "count")
    put("ResumableExtract.bytes_written_per_input_byte", median(written) / dirBytes(Paths.get(stageDir)), "ratio")
    put("ResumableExtract.lineage_rows", lineage.count().toDouble, "count")
    put("redo_docs", redo, "docs")
    put("docs_failed_ratio", failed.toDouble / attempted, "ratio")
    put("trace.overhead_ratio", spansPerS(off.toSeq) / spansPerS(on.toSeq), "ratio")
    val self = tr.selfSeconds
    Seq("Extract.run", "Extract.extractSpans", "scan", "ResumableExtract.runStaged",
      "ResumableExtract.completedBuckets", "ResumableExtract.stageByBucket", "spark.job", "spark.stage")
      .foreach(n => put(s"self_s.$n", self.getOrElse(n, 0.0), "s"))
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  /** Heap in use after the session is stopped and the benchmark's own
    * data is dropped: what graft keeps alive past its session. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** The result line: {"correct", "attempted", "failed", "metrics"}. */
object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, (Double, String))]): String =
    metrics.map { case (n, (v, u)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
}
