package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.queries.Tables

/** Structured Streaming operators (the reference is pure batch — these
  * are the streaming capabilities a training-data pipeline needs:
  * incremental ingestion with event-time windows + watermarks, and
  * custom stateful sessionization via flatMapGroupsWithState).
  */
object StreamingOps {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class SessionOut(user_id: Long, n_events: Int,
      start_ms: Long, end_ms: Long)
  final case class S(n: Int, start: Long, end: Long)

  /** Event-time tumbling-window counts with a watermark: the streaming
    * form of the batch windowed aggregation. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      // driver parquet stores naive timestamps (TIMESTAMP_NTZ); watermarks
      // require TIMESTAMP — session tz is pinned UTC so the cast is exact
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total"))

  /** Custom state machine: 30-minute-gap sessionization with
    * flatMapGroupsWithState (event-time timeout). Emits a session when
    * the gap closes it. */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[S, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.n, s.start, s.end))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= 30 * 60 * 1000 =>
                  // min/max, not overwrite: a within-watermark LATE event
                  // (t <= s.end, arriving in a later micro-batch) must
                  // extend membership without SHRINKING the session — an
                  // overwrite here mis-set end (and the event-time
                  // timeout) to the late event's stamp, wrongly splitting
                  // the session on the next on-time arrival
                  cur = Some(S(s.n + 1, math.min(s.start, t), math.max(s.end, t)))
                case Some(s) =>
                  closed ::= SessionOut(user, s.n, s.start, s.end)
                  cur = Some(S(1, t, t))
                case None =>
                  cur = Some(S(1, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + 30 * 60 * 1000)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming flagship: incremental extraction over an append-only
    * corpus table (readStream -> extract -> append sink). Each arriving
    * row is a COMPLETE (doc_id, spans) document, so extraction and the
    * stitch run inside the row — the same [[graft.pipeline.Extract.extractInRow]]
    * (one `extract_span_seq` call per row, the expression batch runs for
    * every single-row doc) — and the query is STATELESS
    * append: no state store, no watermark, exactly-once from the source
    * checkpoint. (Mega-docs arrive as one row each; micro-batch sizing
    * bounds them — the batch engine's pre-split layout is for backfills,
    * where SLA is throughput, not latency.) Output schema == batch
    * Extract.run. */
  def extractStream(corpus: DataFrame): DataFrame =
    graft.pipeline.Extract.extractInRow(corpus)

  /** Streaming exact dedup: the incremental form of q_dedup_exact —
    * content-fingerprint dedup bounded by an event-time watermark, the
    * standard shape for deduplicating a live ingestion feed.
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`): when
    * the watermark column is not part of the dedup key, plain
    * dropDuplicates keeps every fingerprint forever — the state store
    * grows unboundedly on a live feed. The WithinWatermark variant
    * evicts a fingerprint's state once the watermark passes its event
    * time + delay, so state stays bounded; a duplicate arriving later
    * than that horizon is re-emitted by contract — the batch dedup
    * sweep owns the long tail. Emits the first-seen row per fingerprint
    * with the fingerprint attached. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("fp", graft.queries.DedupQ.exactFp(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming MinHash NEAR-dup: incremental candidate-pair discovery
    * over a live document feed. Each arriving (doc_id, text) row
    * computes its 4 LSH band hashes in-row with the batch kernels
    * (DedupQ.signatures over minhashSig, then bandsFromSig, shared so
    * streaming and batch cannot drift), then
    * `flatMapGroupsWithState` keyed by (band, band_hash) maintains each
    * bucket's member list and emits a candidate pair for the new doc
    * against every stored member. Downstream consumers verify
    * candidates (exact Jaccard — the batch qNeardupVerified kernel) or
    * route them into the clustering operator.
    *
    * State is a near-dup INDEX, not transient aggregation state: each
    * bucket is bounded by the batch skew guard's cap (MaxLshBucket —
    * an arriving doc that would exceed it is dropped from that bucket,
    * the streaming form of the batch guard's drop: prefix-of-bucket
    * semantics rather than retroactive drop-all, since a stream cannot
    * retract), and the bucket count grows with corpus size exactly like
    * the batch band relation. A deployment with a bounded dedup horizon
    * adds event-time TTL via timeouts; the index form is the contract
    * here. */
  def neardupStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.queries.DedupQ.{bandsFromSig, signatures}
    bandsFromSig(signatures(docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))), 4)
      .as[(Long, Int, String)]
      .groupByKey { case (_, band, bh) => (band, bh) }
      .flatMapGroupsWithState[Vector[Long], (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it: Iterator[(Long, Int, String)], state: GroupState[Vector[Long]]) =>
          var members = state.getOption.getOrElse(Vector.empty)
          val out = Vector.newBuilder[(Long, Long)]
          it.foreach { case (doc, _, _) =>
            if (!members.contains(doc) && members.length < graft.queries.DedupQ.MaxLshBucket) {
              members.foreach(m => out += ((math.min(m, doc), math.max(m, doc))))
              members = members :+ doc
            }
          }
          state.update(members)
          out.result().iterator
      }
      .toDF("doc_a", "doc_b")
  }

  /** Streaming decontamination: a STREAM-STATIC broadcast join. Each
    * arriving document's 8-token shingle fingerprints (the exact batch
    * shingle operator — TrainPrepQ.shingleFps, shared so batch and
    * stream cannot drift) probe the static benchmark-fp table; matches
    * are emitted as a (doc_id, fp) contamination-hit stream. Stateless
    * append: stream-static inner joins keep no state store and need no
    * watermark — the benchmark set is reference data (an eval suite,
    * small by definition), broadcast to every micro-batch. Downstream
    * consumers aggregate or alert on the hit stream; the per-doc summary
    * form stays the batch q_decontaminate sweep. */
  def decontaminateStream(docs: DataFrame, benchFps: DataFrame): DataFrame =
    graft.queries.TrainPrepQ.shingleFps(docs)
      .join(broadcast(benchFps.select(col("fp"))), Seq("fp"))
      .select(col("doc_id"), col("fp"))

  /** Streaming DSIR gate: score each arriving document against FROZEN
    * target/raw bucket distributions (reference data a batch pass over
    * the curated corpus computes — TrainPrepQ.dsirDistributions) and
    * emit the batch q_dsir_select's exact-integer columns. STATELESS
    * append: the whole score is row-local — the two distributions ride
    * the plan as 64-entry map LITERALS and the per-word bucket lookup +
    * integer sums run inside Catalyst array HOFs over the row's own
    * token list — so there is no state store, no watermark and no
    * shuffle, the shape that keeps a high-volume ingest stream
    * embarrassingly parallel. Buckets come from the batch kernel
    * (TrainPrepQ.dsirBuckets); StreamingDsirSpec
    * pins stream == batch row-for-row on the real corpus. */
  def dsirSelectStream(docs: DataFrame, tDist: Map[Long, Long],
      sDist: Map[Long, Long], tTotal: Long, sTotal: Long): DataFrame = {
    // try_element_at, NOT element_at: null-on-missing-key is the intent
    // (coalesce to 0 for unseen buckets), and plain element_at has
    // historically thrown MAP_KEY_DOES_NOT_EXIST under ANSI dialects —
    // making the miss semantics explicit keeps this upgrade-proof
    // (round-4 advice).
    def look(m: Column, b: Column): Column = coalesce(try_element_at(m, b), lit(0L))
    val (tMap, sMap) = (typedLit(tDist), typedLit(sDist))
    docs
      .withColumn("bs", graft.queries.TrainPrepQ.dsirBuckets(col("text")))
      .filter(size(col("bs")) > 0) // empty docs are absent batch-side too
      .select(col("doc_id"),
        size(col("bs")).cast("long").as("n_tokens"),
        aggregate(col("bs"), lit(0L), (acc, b) => acc + look(tMap, b)).as("score_target"),
        aggregate(col("bs"), lit(0L), (acc, b) => acc + look(sMap, b)).as("score_raw"))
      .withColumn("selected",
        when(col("score_target") * lit(sTotal) >= col("score_raw") * lit(tTotal),
          lit(1)).otherwise(lit(0)))
  }

  /** Streaming contamination-coverage gate: the row-local twin of
    * q_contam_coverage. The benchmark 8-gram fingerprint set is FROZEN
    * reference data (TrainPrepQ.contamBenchFps — an eval suite, bounded)
    * carried as a map literal; per arriving doc, hit positions come
    * from one array HOF over the row's own token list and the
    * merged-interval coverage folds over those (already ascending)
    * positions with a two-long struct accumulator — the same union
    * arithmetic as the batch window, but entirely inside the row.
    * STATELESS append: no state store, no watermark, no shuffle — the
    * decontamination-at-ingest gate stays embarrassingly parallel.
    * Gram fingerprints and width come from the batch kernel
    * (TrainPrepQ.gramFp, ContamK); StreamingContamSpec pins stream ==
    * batch row-for-row on the real corpus.
    *
    * CALLER CONTRACT (round-4 advice — the stream==batch equivalence is
    * conditional): `docs` must already be the TRAINING-candidate stream
    * with the benchmark holdout EXCLUDED (batch qContamCoverage holds
    * out doc_id % 97 == 0 itself) and with any sentinel injection the
    * batch side applies ALREADY APPLIED (StreamingContamSpec does both
    * before feeding the stream). Feeding raw ingest rows scores
    * benchmark documents as if they were training rows — their coverage
    * would read ~10000 bp by construction. `benchFps` is the frozen
    * output of TrainPrepQ.contamBenchFps over the SAME sentinel-injected
    * corpus. */
  def contamCoverageStream(docs: DataFrame, benchFps: Seq[String]): DataFrame = {
    import graft.queries.TrainPrepQ.{gramFp, ContamK => k}
    val bench = typedLit(benchFps.map(_ -> true).toMap)
    // try_element_at for explicit null-on-miss (see dsirSelectStream)
    val hit = (i: Column) => coalesce(try_element_at(bench, gramFp(col("toks"), i)), lit(false))
    val zero = struct(lit(0L).as("last"), lit(0L).as("cov"))
    val step = (st: Column, i: Column) => struct(
      (i.cast("long") + k).as("last"),
      (st.getField("cov") + (i.cast("long") + k -
        greatest(i.cast("long"), st.getField("last")))).as("cov"))
    docs
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .withColumn("hits", when(size(col("toks")) >= k,
        filter(sequence(lit(1), size(col("toks")) - (k - 1)), hit))
        .otherwise(expr("CAST(array() AS array<int>)")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("hits")).cast("long").as("n_contam_grams"),
        aggregate(col("hits"), zero, step, st => st.getField("cov")).as("covered_tokens"))
      .withColumn("contam_bp",
        expr("CAST(CASE WHEN n_tokens > 0 THEN (covered_tokens * 10000) div n_tokens ELSE 0 END AS BIGINT)"))
  }

  /** Streaming shard manifest: the SAME aggregate kernel as the batch
    * q_shard_manifest (TrainPrepQ.shardManifest), run in complete mode —
    * legal as a streaming aggregate precisely because every column of
    * the manifest (count, sums, min/max, the modular checksum) is
    * commutative + associative, so Spark maintains it incrementally in
    * the state store keyed on the 16-row shard id. This is the property
    * the batch scaladoc claims ("a manifest can be maintained while
    * shards are still being written"); StreamingManifestSpec proves it
    * behaviorally: two micro-batches, final table == batch manifest. */
  def shardManifestStream(docs: DataFrame): DataFrame =
    graft.queries.TrainPrepQ.shardManifest(docs)

  /** STREAM-STREAM interval join: view->click attribution on two live
    * feeds. Each view matches the same user's clicks that land within
    * 24 hours after it — the ad-attribution / conversion-tracking shape,
    * and the one streaming join Spark keeps state for on BOTH sides.
    * Both inputs carry a watermark and the join condition bounds
    * click_ts to [view_ts, view_ts + 24h], which is exactly what lets
    * Spark evict: a buffered view can be dropped once the click
    * watermark passes view_ts + 24h, a buffered click once the view
    * watermark passes click_ts — without the time-range condition the
    * two-sided state grows forever. Inner join => append mode, rows
    * emitted as soon as both sides arrive.
    *
    * At scale the state store shards by user_id (the equi half of the
    * condition); state per user is bounded by 24h+delay of that user's
    * traffic, so hot users are a keyed-skew concern exactly like the
    * batch join — same mitigation (salt the equi key, widen shards). */
  def attributeStream(views: DataFrame, clicks: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val v = views
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
    val c = clicks
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    v.join(c,
        col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 24 HOURS"),
        joinType)
      .select(col("user_id"), col("view_id"), col("click_id"),
        ((unix_micros(col("click_ts")) - unix_micros(col("view_ts"))) / 1000000L)
          .cast("long").as("lag_sec"))
  }

  /** The conversion-FAILURE stream: left-outer variant of
    * [[attributeStream]]. A view with no click inside its 24-hour
    * window emits once with null click columns — but only after the
    * CLICK-side watermark passes view_ts + 24h + delay, because until
    * then a matching click could still arrive. That deferred-null
    * emission is the semantics alerting/abandonment pipelines need, and
    * it is exactly what Spark's outer stream-stream join provides once
    * both watermarks and the time-range bound are in place (the same
    * two conditions that bound the join state). */
  def unconvertedStream(views: DataFrame, clicks: DataFrame): DataFrame =
    attributeStream(views, clicks, "left_outer")
      .filter(col("click_id").isNull)
      .select(col("user_id"), col("view_id"))

  /** Drive a streaming query over the static events parquet (memory sink,
    * synchronous) and return the sink table. */
  def runWindowedOverDir(spark: SparkSession, sfDir: String, queryName: String): DataFrame =
    runStreamOverDir(spark, sfDir, queryName, windowedCounts)

  /** Event-time SLIDING window aggregate (1-hour window hopping every 30
    * minutes) with a watermark — the streaming form of the batch
    * q_hop_window: the batch window generator and floored-cents sum
    * (Relational.hopWindow, sumCents), so the two cannot drift (the spec pins column-level
    * equality). Exact distinct-user counts are a batch-only column:
    * streaming aggregation cannot compute exact DISTINCT incrementally. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(graft.queries.Relational.hopWindow(col("ts")).as("w"))
      .agg(count(lit(1)).as("n_events"),
        graft.queries.Relational.sumCents(col("value")).as("sum_cents"))
      .select(col("w.start").as("w_start"), col("n_events"), col("sum_cents"))

  def runSlidingOverDir(spark: SparkSession, sfDir: String, queryName: String): DataFrame =
    runStreamOverDir(spark, sfDir, queryName, slidingCounts)

  /** Streaming Count-Min sketch maintenance: the CMS cell table kept as
    * a streaming aggregation over the incoming document feed. State is
    * BOUNDED at CmsDepth x CmsWidth keys no matter how long the stream
    * runs — the entire point of sketching a feed where exact per-bigram
    * state grows without bound (the batch q_cms_heavy's `exact` relation
    * could not be streamed). Bigram extraction and cell arithmetic are
    * SHARED with the batch query (MiningQ.cmsBigrams / cmsCellArray), so
    * the streaming sketch is bit-identical to a batch sketch over the
    * same data and estimates keep the one-sided CMS error law
    * (estimate >= exact, always). Complete output mode: the sketch is
    * small enough to re-emit in full every trigger. */
  def cmsStream(docs: DataFrame): DataFrame =
    graft.queries.MiningQ.cmsBigrams(docs)
      .select(posexplode(graft.queries.MiningQ.cmsCellArray).as(Seq("j", "cell")))
      .groupBy(col("j"), col("cell")).agg(count(lit(1)).as("cv"))

  /** Streaming sequence packing: the incremental form of q_seq_pack —
    * each arriving document is stamped with the training-sequence id and
    * offset its first token lands at, per SOURCE shard, exactly like the
    * batch window arithmetic (tokenizer shared via
    * [[graft.queries.TrainPrepQ.packInput]], so the twins cannot drift).
    * State is ONE running token total per source — bounded by the
    * source-shard count forever, the smallest possible stateful
    * footprint. Packing order is doc_id WITHIN a micro-batch and arrival
    * order across micro-batches; a feed that delivers doc_id-ordered
    * files (the ingestion contract — CDC/file streams arrive ordered)
    * therefore packs identically to the batch sweep, which the spec pins
    * cross-micro-batch. */
  def seqPackStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    graft.queries.TrainPrepQ.packInput(docs)
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it: Iterator[(Long, String, Long)], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = it.toVector.sortBy(_._1).map { case (id, src, n) =>
            val start = cum
            cum += n
            (id, src, n, start / graft.queries.TrainPrepQ.SeqLen,
              start % graft.queries.TrainPrepQ.SeqLen)
          }
          state.update(cum)
          out.iterator
      }
      .toDF("doc_id", "source", "n_tok", "seq_id", "seq_off")
  }

  /** Streaming HyperLogLog registers: the per-(source, bucket) MAX-rho
    * table of the batch q_approx_distinct kept as a streaming
    * aggregation — register update is a MAX (monotone, mergeable), so
    * the streaming sketch is bit-identical to the batch one over the
    * same data and state is BOUNDED at sources x 32 registers however
    * long the feed runs (exact streaming DISTINCT would need unbounded
    * per-key state). Kernel shared via CorpusQ.hllRegisters; the batch
    * estimator formula applies unchanged to the final registers. */
  def hllStream(docs: DataFrame): DataFrame =
    graft.queries.CorpusQ.hllRegisters(docs)

  private def runStreamOverDir(spark: SparkSession, sfDir: String, queryName: String,
      op: DataFrame => DataFrame): DataFrame = {
    val schema = Tables.read(spark, sfDir, "events").schema
    // file-stream sources require a DIRECTORY; stage the (read-only)
    // events file into a temp dir via symlink — removed after the
    // one-shot query so repeated verification runs don't litter /tmp
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    val events = java.nio.file.Paths.get(Tables.path(sfDir, "events"))
    val link = dir.resolve(events.getFileName)
    java.nio.file.Files.createSymbolicLink(link, events)
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
      val q = op(stream).writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(queryName)
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(queryName)
    } finally {
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }
}
