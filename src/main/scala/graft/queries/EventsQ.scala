package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QCache.ScopedCacheOps
import Relational.dec

/** Event-stream analytics beyond the funnel/sessionize/hop-window trio
  * (engine-side additions, SURVEY.md §2.F/G): cohort retention and
  * time-series gap filling — the two reporting shapes a usage pipeline
  * asks of an events table that the existing entries don't cover.
  *
  * Determinism rules (CLAUDE.md): day/hour buckets are INTEGER indexes
  * (datediff / epoch-hour — no date formatting), money is DECIMAL-summed
  * then floored to BIGINT cents, ratios are integer basis points.
  */
object EventsQ {

  // ---------------------------------------------------------------------
  // q_cohort_retention — first-activity cohorts x day offset
  // ---------------------------------------------------------------------

  /** Cohort retention: users cohorted by FIRST-activity day, retention =
    * distinct active users per (cohort, day-offset) — the triangular
    * matrix every growth report draws. Days are integer indexes from the
    * corpus epoch (2024-01-01), never formatted dates.
    *
    * Scale notes: the per-(user, day) DISTINCT is the compaction step —
    * the shuffle carries one row per user-day, not per event (map-side
    * partial distinct); first-day and activity join on user_id
    * (co-partitioned equi-join); the cohort-size relation is one row
    * per cohort day (broadcast). Nothing scales with raw event count
    * past the first aggregate. */
  def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.read(s, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).cast("long").as("day"))
      .distinct()
      .scopedCache()
    val first = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val cohorts = first.groupBy(col("cohort_day")).agg(count(lit(1)).as("n_cohort"))
    val ret = days.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    ret.join(cohorts, Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_cohort"), col("n_active"),
        expr("(n_active * 10000) div n_cohort").as("ret_bp"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val qCohortRetentionSql: String =
    """WITH d AS (SELECT DISTINCT user_id,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1),
      |c AS (SELECT cohort_day, COUNT(*) AS n_cohort FROM f GROUP BY 1),
      |r AS (SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
      |        COUNT(DISTINCT d.user_id) AS n_active
      |      FROM d JOIN f ON f.user_id = d.user_id GROUP BY 1, 2)
      |SELECT CAST(r.cohort_day AS BIGINT) AS cohort_day,
      |  CAST(r.day_offset AS BIGINT) AS day_offset,
      |  CAST(c.n_cohort AS BIGINT) AS n_cohort,
      |  CAST(r.n_active AS BIGINT) AS n_active,
      |  CAST((r.n_active * 10000) // c.n_cohort AS BIGINT) AS ret_bp
      |FROM r JOIN c ON c.cohort_day = r.cohort_day
      |ORDER BY cohort_day, day_offset""".stripMargin

  // ---------------------------------------------------------------------
  // q_gap_fill — dense hourly spine with zero-filled gaps
  // ---------------------------------------------------------------------

  /** Time-series gap filling: aggregate per (hour, event_type), then
    * LEFT-join onto the DENSE hour x type spine so silent hours appear
    * as explicit zero rows (`filled` marks them) — the densification
    * step dashboards and downstream window functions require (a LAG over
    * a sparse series silently skips gaps).
    *
    * Scale notes: the spine derives from the data's own [min, max] hour
    * bounds (one tiny agg row — no driver-side collect) crossed with the
    * distinct type relation (broadcast-tiny, the IVF-centroid
    * precedent); the left join is spine-sized (hours x types), not
    * event-sized, and the event table is touched exactly twice, both
    * times collapsing map-side. */
  def qGapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(s, dir, "events")
      .select(expr("to_unix_timestamp(ts) div 3600").as("h"),
        col("event_type"), col("value"))
    val agg = ev.groupBy(col("h"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        floor(sum(dec(col("value"))) * 100).cast("long").as("s"))
    val spine = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("h"))
      .crossJoin(ev.select(col("event_type")).distinct())
    spine.join(agg, Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("s"), lit(0L)).as("sum_cents"),
        col("n").isNull.as("filled"))
      .orderBy(col("h"), col("event_type"))
  }

  val qGapFillSql: String =
    """WITH e AS (SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h, event_type, value
      |           FROM events),
      |a AS (SELECT h, event_type, COUNT(*) AS n,
      |        CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,4))) * 100) AS BIGINT) AS s
      |      FROM e GROUP BY 1, 2),
      |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e),
      |sp AS (SELECT CAST(u.h AS BIGINT) AS h, t.event_type
      |       FROM b, UNNEST(generate_series(b.h0, b.h1)) AS u(h),
      |            (SELECT DISTINCT event_type FROM e) t)
      |SELECT sp.h, sp.event_type, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
      |  CAST(COALESCE(a.s, 0) AS BIGINT) AS sum_cents, a.n IS NULL AS filled
      |FROM sp LEFT JOIN a ON a.h = sp.h AND a.event_type = sp.event_type
      |ORDER BY sp.h, sp.event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q_partial_reagg — incremental rollup from mergeable daily partials
  // ---------------------------------------------------------------------

  /** Incremental re-aggregation: build DAILY partial states per event
    * type (count, DECIMAL sum, min, max — kept UNROUNDED: the state must
    * stay mergeable, so cents-flooring happens only at the final merge),
    * roll the partials up to per-type totals, and emit them side by side
    * with a direct single-pass aggregate plus per-measure match flags.
    * This is the contract behind every incremental pipeline (daily
    * partitions -> monthly rollup without rescanning raw data); the
    * classic bug it guards against — flooring per partial and summing
    * the floors — would show up as sum_match = FALSE.
    *
    * Scale notes: partials are one row per (day, type) — the raw event
    * table is scanned once for them and once for the direct check (the
    * check IS the point of the query; a production rollup keeps only
    * the first scan); both aggregates collapse map-side. */
  def qPartialReagg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(s, dir, "events")
      .select(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).cast("long").as("day"),
        col("event_type"), dec(col("value")).as("v"))
    val partials = ev.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    val reagg = partials.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_partials"), sum(col("n")).as("n_events"),
        floor(sum(col("s")) * 100).cast("long").as("sum_cents"),
        floor(min(col("mn")) * 100).cast("long").as("min_cents"),
        floor(max(col("mx")) * 100).cast("long").as("max_cents"))
    val direct = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_d"),
        floor(sum(col("v")) * 100).cast("long").as("s_d"),
        floor(min(col("v")) * 100).cast("long").as("mn_d"),
        floor(max(col("v")) * 100).cast("long").as("mx_d"))
    reagg.join(direct, Seq("event_type"))
      .select(col("event_type"), col("n_partials"), col("n_events"),
        col("sum_cents"), col("min_cents"), col("max_cents"),
        (col("n_events") === col("n_d")).as("n_match"),
        (col("sum_cents") === col("s_d")).as("sum_match"),
        (col("min_cents") === col("mn_d")).as("min_match"),
        (col("max_cents") === col("mx_d")).as("max_match"))
      .orderBy(col("event_type"))
  }

  val qPartialReaggSql: String =
    """WITH e AS (SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
      |    event_type, CAST(value AS DECIMAL(18,4)) AS v FROM events),
      |p AS (SELECT day, event_type, COUNT(*) AS n, SUM(v) AS s, MIN(v) AS mn, MAX(v) AS mx
      |      FROM e GROUP BY 1, 2),
      |r AS (SELECT event_type, COUNT(*) AS n_partials, SUM(n) AS n_events,
      |        CAST(FLOOR(SUM(s) * 100) AS BIGINT) AS sum_cents,
      |        CAST(FLOOR(MIN(mn) * 100) AS BIGINT) AS min_cents,
      |        CAST(FLOOR(MAX(mx) * 100) AS BIGINT) AS max_cents
      |      FROM p GROUP BY 1),
      |d AS (SELECT event_type, COUNT(*) AS n_d,
      |        CAST(FLOOR(SUM(v) * 100) AS BIGINT) AS s_d,
      |        CAST(FLOOR(MIN(v) * 100) AS BIGINT) AS mn_d,
      |        CAST(FLOOR(MAX(v) * 100) AS BIGINT) AS mx_d
      |      FROM e GROUP BY 1)
      |SELECT r.event_type, CAST(r.n_partials AS BIGINT) AS n_partials,
      |  CAST(r.n_events AS BIGINT) AS n_events,
      |  r.sum_cents, r.min_cents, r.max_cents,
      |  r.n_events = d.n_d AS n_match, r.sum_cents = d.s_d AS sum_match,
      |  r.min_cents = d.mn_d AS min_match, r.max_cents = d.mx_d AS max_match
      |FROM r JOIN d ON d.event_type = r.event_type
      |ORDER BY r.event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q_late_profile — out-of-order arrival audit (sizes the watermark)
  // ---------------------------------------------------------------------

  /** Out-of-order-arrival profile: per event type, how many events
    * arrive BEHIND the high-water mark of their user's sequence
    * (event_id = arrival order within a user), how far behind, and how
    * many exceed a 10-minute watermark delay. This is the audit that
    * SIZES the streaming watermark: pick a delay, and this query tells
    * you exactly how many events it would drop. The synthetic feed is
    * in-order, so disorder is PLANTED (event_id % 61 == 17 shifted back
    * 36 hours) — both engines predict every late row.
    *
    * Scale notes: the high-water mark is a per-USER running max
    * (partitioned window over arrival order — never a global sort);
    * lateness stays integer microseconds; the rollup is one partial
    * aggregate on event_type. */
  def qLateProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val planted = Tables.read(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        when(col("event_id") % 61 === 17, col("ts") - expr("INTERVAL 36 HOURS"))
          .otherwise(col("ts")).as("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    planted
      // ts is TIMESTAMP_NTZ (parquet timestamp[us]); unix_micros needs LTZ.
      // Session tz is UTC everywhere (Verify/Bench/build.sbt), so the cast
      // is an exact identity on the underlying micros.
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("hwm_us", max(col("ts_us")).over(w))
      .withColumn("late_us",
        greatest(lit(0L), coalesce(col("hwm_us") - col("ts_us"), lit(0L))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        sum(when(col("late_us") > 600L * 1000000L, 1L).otherwise(0L)).as("n_late_10m"),
        sum(when(col("late_us") > 108000L * 1000000L, 1L).otherwise(0L)).as("n_late_30h"),
        max(col("late_us")).as("mx"), sum(col("late_us")).as("sm"))
      .select(col("event_type"), col("n_events"), col("n_late"), col("n_late_10m"),
        col("n_late_30h"),
        expr("mx div 1000000").as("max_late_sec"),
        expr("sm div 1000000").as("sum_late_sec"))
      .orderBy(col("event_type"))
  }

  val qLateProfileSql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, event_type,
      |    CASE WHEN event_id % 61 = 17 THEN ts - INTERVAL 36 HOUR ELSE ts END AS ts
      |  FROM events),
      |l AS (
      |  SELECT event_type,
      |    GREATEST(0, COALESCE(
      |      MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - epoch_us(ts), 0)) AS late_us
      |  FROM p)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(SUM(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_10m,
      |  CAST(SUM(CASE WHEN late_us > 108000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_30h,
      |  CAST(MAX(late_us) // 1000000 AS BIGINT) AS max_late_sec,
      |  CAST(SUM(late_us) // 1000000 AS BIGINT) AS sum_late_sec
      |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_partial_reagg" -> ((qPartialReagg _, Some(qPartialReaggSql))),
    "q_late_profile" -> ((qLateProfile _, Some(qLateProfileSql))),
    "q_cohort_retention" -> ((qCohortRetention _, Some(qCohortRetentionSql))),
    "q_gap_fill" -> ((qGapFill _, Some(qGapFillSql))))
}
