package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator battery over the driver's TPC-H-ish tables, each
  * with a DuckDB oracle (SURVEY.md §2.E: the SQL-expressible subset).
  *
  * Determinism rules for oracle parity:
  *  - double SUMs are computed exactly: cast inputs to DECIMAL, aggregate,
  *    cast the final value to DOUBLE (summation order then cannot matter);
  *  - CAVEAT discovered on q_rollup_revenue's grand-total row: the final
  *    decimal->double CAST itself is engine-divergent in the last ulp
  *    (Spark: BigDecimal.doubleValue, correctly rounded; DuckDB: hugeint
  *    value / 10^scale, two roundings). Large-magnitude sums should emit
  *    integer units instead — floor(sum * 100) cents — which is exact on
  *    both engines. The remaining decimal->double casts are verified
  *    green on the gate's fixed inputs (deterministic data => stable),
  *    but any NEW money-sum query should use the cents form;
  *  - every query has a total ORDER BY;
  *  - ratios are int/int divisions (identical doubles on both engines).
  */
object Relational {

  private[queries] def dec(c: Column): Column = c.cast("decimal(18,4)")

  /** TPC-H Q1 shape: scan-side filter pushdown + partial aggregation. */
  def qAggPushdown(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))))
          .cast("double").as("sum_disc"),
        count(lit(1)).as("n_rows"))

  val qAggPushdownSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc,
      | COUNT(*) AS n_rows
      |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Star join: fact orders x broadcast dims customer, nation. */
  def qJoinBroadcast(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .join(broadcast(Tables.read(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.read(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))

  val qJoinBroadcastSql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Top-k with deterministic tie-break (G-16's top-1 generalized). */
  def qTopkRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  val qTopkRevenueSql: String =
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"

  /** Window functions: row_number + exact running total per customer. */
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.read(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        sum(dec(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("run_total"))
  }

  val qWindowRunningSql: String =
    """SELECT o_custkey, o_orderkey,
      | ROW_NUMBER() OVER w AS rn,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_total
      |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rn""".stripMargin

  /** Ordered stitch (H-13 relational analog): per user, event types
    * concatenated in (ts, event_id) order. */
  def qStitchOrder(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          (x: Column) => x.getField("event_type")),
        " ").as("type_seq"))

  val qStitchOrderSql: String =
    """SELECT user_id, STRING_AGG(event_type, ' ' ORDER BY ts, event_id) AS type_seq
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Page-sort shape (G-4): line numbers per order in ascending order. */
  def qPageSort(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(array_join(
        transform(array_sort(collect_list(col("l_linenumber"))), (x: Column) => x.cast("string")),
        ",").as("line_seq"))

  val qPageSortSql: String =
    """SELECT l_orderkey, STRING_AGG(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS line_seq
      |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** Frequency argmax with lexicographic tie-break (G-16). */
  def qFreqArgmax(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("c").desc, col("lang"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("c").as("cnt"))
  }

  val qFreqArgmaxSql: String =
    """SELECT source, lang AS top_lang, c AS cnt FROM (
      | SELECT source, lang, COUNT(*) AS c,
      |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang) AS rn
      | FROM documents GROUP BY source, lang
      |) t WHERE rn = 1 ORDER BY source""".stripMargin

  /** Duplicate-key fold (G-7/G-10 relational analog): distinct values per
    * key in first-seen order. */
  def qDupkeyFold(s: SparkSession, dir: String): DataFrame = {
    val firstSeen = Tables.read(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("first_ts"))
    firstSeen
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("first_ts"), col("event_type")))),
          (x: Column) => x.getField("event_type")),
        "|").as("vals"))
  }

  val qDupkeyFoldSql: String =
    """SELECT user_id, STRING_AGG(event_type, '|' ORDER BY first_ts, event_type) AS vals
      |FROM (SELECT user_id, event_type, MIN(ts) AS first_ts FROM events GROUP BY user_id, event_type) t
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Interval-containment join (G-3/G-17 relational form) on ranges
    * derived deterministically from the tables. The Spark plan uses the
    * SCALABLE form: bin the range space, equi-join on bin, filter exact
    * containment — no O(P x C) nested loop (SURVEY.md §2.E "Joins"). */
  def qContainmentJoin(s: SparkSession, dir: String): DataFrame = {
    val binSize = 256
    val parents = Tables.read(s, dir, "orders").select(
      col("o_orderkey"),
      (col("o_orderkey") * 7 % 5000000).as("lo"),
      (col("o_orderkey") * 7 % 5000000 + col("o_orderkey") % 97 + 20).as("hi"))
    val children = Tables.read(s, dir, "lineitem").select(
      ((col("l_orderkey") * 3 + col("l_linenumber") * 11) % 5000000).as("clo"),
      ((col("l_orderkey") * 3 + col("l_linenumber") * 11) % 5000000 + col("l_partkey") % 13).as("chi"))
    // parent spans bins floor(lo/B)..floor(hi/B); child lives in one bin
    val pBinned = parents
      .withColumn("bin", explode(sequence(floor(col("lo") / binSize), floor(col("hi") / binSize))))
    val cBinned = children.withColumn("bin", floor(col("clo") / binSize))
    pBinned.join(cBinned, Seq("bin"))
      .filter(col("clo") >= col("lo") && col("chi") <= col("hi"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_contained"))
  }

  val qContainmentJoinSql: String =
    """WITH parents AS (
      |  SELECT o_orderkey, (o_orderkey * 7) % 5000000 AS lo,
      |         (o_orderkey * 7) % 5000000 + o_orderkey % 97 + 20 AS hi FROM orders),
      |children AS (
      |  SELECT (l_orderkey * 3 + l_linenumber * 11) % 5000000 AS clo,
      |         (l_orderkey * 3 + l_linenumber * 11) % 5000000 + l_partkey % 13 AS chi FROM lineitem)
      |SELECT o_orderkey, COUNT(*) AS n_contained
      |FROM parents JOIN children ON clo >= lo AND chi <= hi
      |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  /** Sessionization: 30-minute inactivity gap (batch form). */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.read(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg((sum(col("is_new")) + 1).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  val qSessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    CASE WHEN date_diff('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events)
      |SELECT user_id, CAST(SUM(is_new) + 1 AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** JSON scalar extraction from the props column. */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events")
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))

  val qJsonExtractSql: String =
    """SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** As-of join (each purchase matched to the user's most recent PRIOR
    * view) in the SCALE form: one sort-shuffle window over the unioned
    * event stream — `last(ignoreNulls)` over rows-up-to-previous — not a
    * per-pair range join (which re-scans the build side per probe).
    * Ordering ties broken by event_id; epochs in millis (exact BIGINT on
    * both engines); -1/-1 for purchases with no prior view. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.read(s, dir, "events")
      .withColumn("prior_view_id",
        last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("prior_view_ms",
        last(when(col("event_type") === "view", unix_millis(col("ts").cast("timestamp"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("purchase_ms"),
        coalesce(col("prior_view_id"), lit(-1L)).as("prior_view_id"),
        coalesce(col("prior_view_ms"), lit(-1L)).as("prior_view_ms"))
  }

  val qAsofJoinSql: String =
    """SELECT event_id, user_id, purchase_ms, prior_view_id, prior_view_ms FROM (
      | SELECT event_id, user_id, event_type,
      |  epoch_ms(ts) AS purchase_ms,
      |  COALESCE(LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
      |    OVER w, -1) AS prior_view_id,
      |  COALESCE(LAST_VALUE(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END IGNORE NULLS)
      |    OVER w, -1) AS prior_view_ms
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |) t WHERE event_type = 'purchase' ORDER BY user_id, event_id""".stripMargin

  /** Hierarchical rollup (region -> nation -> grand total) with an exact
    * decimal revenue and a distinct-count — grouping sets + COUNT
    * DISTINCT coverage. All three dims broadcast; subtotal NULLs are
    * COALESCEd to 'ALL' so the cross-engine hash never sees engine NULL
    * ordering. */
  def qRollupRevenue(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.read(s, dir, "supplier")
    val reg = Tables.read(s, dir, "region")
    Tables.read(s, dir, "lineitem")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.read(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        // integer CENTS, floored from the exact decimal sum: the decimal
        // arithmetic is identical across engines, but a decimal->double
        // cast is NOT (Spark's BigDecimal.doubleValue is correctly
        // rounded; DuckDB converts via hugeint/10^scale with two
        // roundings) — the grand-total ROLLUP row differed in the last
        // ulp. floor(exact decimal) -> BIGINT is engine-independent.
        floor(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount")))) * 100)
          .cast("long").as("revenue_cents"),
        countDistinct(col("l_suppkey")).as("n_supp"),
        count(lit(1)).as("n_rows"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("revenue_cents"), col("n_supp"), col("n_rows"))
  }

  val qRollupRevenueSql: String =
    """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
      | CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) * 100) AS BIGINT) AS revenue_cents,
      | COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(*) AS n_rows
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name) ORDER BY region, nation""".stripMargin

  /** Fact x broadcast part dimension: per-brand item counts, distinct
    * parts, exact quantity sum. */
  def qBrandStats(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.read(s, dir, "part")
    Tables.read(s, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("l_partkey")).as("n_parts"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
  }

  val qBrandStatsSql: String =
    """SELECT p_brand, COUNT(*) AS n_items, COUNT(DISTINCT l_partkey) AS n_parts,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Left-anti join — the relational witness for the G-13 d/e
    * "unassigned fallback" shape (paragraphs contained in NO block ->
    * page-direct): customers with no high-value order (the unfiltered
    * anti-join is vacuous on this data — every customer has orders).
    * At fact scale the anti-join shuffles like the inner join would;
    * the price filter pushes to the orders scan. */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "customer")
      .join(Tables.read(s, dir, "orders").filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))

  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name, c_nationkey
      |FROM customer ANTI JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin

  /** Relation-level set ops (EXCEPT/INTERSECT): event types that occur
    * for low-value events but never for high-value ones, and the types
    * common to both (inputs are distinct, so ALL == set semantics). */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val lo = Tables.read(s, dir, "events").filter(col("value") < 10).select(col("event_type")).distinct()
    val hi = Tables.read(s, dir, "events").filter(col("value") >= 10).select(col("event_type")).distinct()
    lo.exceptAll(hi).select(col("event_type"), org.apache.spark.sql.functions.lit("only_low").as("bucket"))
      .unionAll(lo.intersectAll(hi)
        .select(col("event_type"), org.apache.spark.sql.functions.lit("both").as("bucket")))
  }

  val qSetOpsSql: String =
    """WITH lo AS (SELECT DISTINCT event_type FROM events WHERE value < 10),
      |hi AS (SELECT DISTINCT event_type FROM events WHERE value >= 10)
      |SELECT event_type, 'only_low' AS bucket FROM (SELECT event_type FROM lo EXCEPT SELECT event_type FROM hi)
      |UNION ALL
      |SELECT event_type, 'both' AS bucket FROM (SELECT event_type FROM lo INTERSECT SELECT event_type FROM hi)
      |ORDER BY bucket, event_type""".stripMargin

  /** PIVOT (wide reshape): per source, char totals per language as
    * columns — Spark's native `.pivot(col, values)` relational operator
    * (explicit value list, so no extra distinct-collection job and a
    * stable column order); the oracle spells the same reshape as
    * conditional aggregates, the form every engine shares. Exact BIGINT
    * sums, zero-filled for absent (source, lang) combos. */
  private val PivotLangs = Seq("de", "en", "es", "fr", "zh")

  def qPivotLangs(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.documents(s, dir)
      .groupBy(col("source"))
      .pivot("lang", PivotLangs)
      .agg(sum(col("n_chars")))
    PivotLangs.foldLeft(wide) { (df, l) =>
        df.withColumn(s"chars_$l", coalesce(col(l), lit(0L))).drop(l)
      }
      .join(Tables.documents(s, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs")), Seq("source"))
      .select(col("source") +: PivotLangs.map(l => col(s"chars_$l")) :+ col("n_docs"): _*)
  }

  val qPivotLangsSql: String = {
    val cols = PivotLangs.map(l =>
      s"CAST(SUM(CASE WHEN lang = '$l' THEN n_chars ELSE 0 END) AS BIGINT) AS chars_$l").mkString(",\n ")
    s"""SELECT source,
       | $cols,
       | CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** RANGE (interval) join with no equi key: every 'error' event
    * aggregated against ALL events within +-60 s of it. A naive
    * inequality join in Spark plans as BroadcastNestedLoop — quadratic
    * at corpus scale; the scale shape here is BIN REPLICATION: bin =
    * minute bucket of the timestamp, each anchor replicated to bins
    * {b-1, b, b+1} (window == bin width, so 3 replicas cover every
    * possible neighbor), candidates via a plain shuffled EQUI-join on
    * the bin, exact |dt| <= 60 s filter after. Each (anchor, neighbor)
    * pair meets exactly once (the neighbor's bin is unique), so no
    * dedup pass. Same pattern as q_containment_join's binned geometry
    * join; AQE splits any hot-minute bin. The DuckDB oracle states the
    * naive inequality join (its IEJoin handles it at oracle scale).
    * Microsecond-exact integer arithmetic on both engines. */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val WinUs = 60000000L // 60 s, also the bin width
    val ev = Tables.read(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
    val anchors0 = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("a_id"), col("us").as("a_us"))
    val anchors = anchors0.select(col("a_id"), col("a_us"),
      explode(expr(s"array(a_us div $WinUs - 1, a_us div $WinUs, a_us div $WinUs + 1)")).as("bin"))
    val withBin = ev.withColumn("bin", expr(s"us div $WinUs"))
    val agg = anchors.join(withBin, Seq("bin"))
      .filter(abs(col("us") - col("a_us")) <= WinUs && col("event_id") =!= col("a_id"))
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("nn"), countDistinct(col("user_id")).as("nu"),
        min(col("event_id")).as("mn"))
    anchors0.join(agg, Seq("a_id"), "left")
      .select(col("a_id").as("event_id"),
        coalesce(col("nn"), lit(0L)).as("n_nearby"),
        coalesce(col("nu"), lit(0L)).as("n_users"),
        col("mn").as("min_neighbor"))
  }

  val qRangeJoinSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
      |a AS (SELECT event_id AS a_id, us AS a_us FROM e WHERE event_type = 'error'),
      |j AS (SELECT a.a_id, COUNT(*) AS nn, COUNT(DISTINCT e.user_id) AS nu, MIN(e.event_id) AS mn
      |      FROM a JOIN e ON abs(e.us - a.a_us) <= 60000000 AND e.event_id <> a.a_id
      |      GROUP BY a.a_id)
      |SELECT a.a_id AS event_id,
      |  CAST(COALESCE(j.nn, 0) AS BIGINT) AS n_nearby,
      |  CAST(COALESCE(j.nu, 0) AS BIGINT) AS n_users,
      |  j.mn AS min_neighbor
      |FROM a LEFT JOIN j ON j.a_id = a.a_id ORDER BY event_id""".stripMargin

  /** Ordered FUNNEL: per user, the view -> click -> purchase conversion
    * where each later step must happen strictly AFTER the earlier one
    * (first view, then the first click within 24 h after that view,
    * then the first purchase within 24 h after that click — the
    * standard product-analytics shape, distinct from gap
    * sessionization; the step window is what makes stages
    * discriminate on a month-long event stream). One narrow pass: conditional
    * MIN aggregates per user (no joins, no windows; two of the three
    * step timestamps are correlated conditional-mins computed from the
    * per-user sorted event array — a single groupBy). Microsecond
    * integer timestamps; stage is an exact INT. */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    Tables.read(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("us"), col("event_type"))).as("evs"))
      .withColumn("t_view",
        expr("array_min(transform(filter(evs, e -> e.event_type = 'view'), e -> e.us))"))
      .withColumn("t_click",
        expr("array_min(transform(filter(evs, e -> e.event_type = 'click' AND e.us > t_view AND e.us <= t_view + 86400000000), e -> e.us))"))
      .withColumn("t_purchase",
        expr("array_min(transform(filter(evs, e -> e.event_type = 'purchase' AND e.us > t_click AND e.us <= t_click + 86400000000), e -> e.us))"))
      .select(col("user_id"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0).as("stage"),
        col("t_view"), col("t_click"), col("t_purchase"))
  }

  val qFunnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN us END) AS t_view
      |      FROM e GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(CASE WHEN e.event_type = 'click' AND e.us > v.t_view AND e.us <= v.t_view + 86400000000 THEN e.us END) AS t_click
      |      FROM e JOIN v ON v.user_id = e.user_id GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(CASE WHEN e.event_type = 'purchase' AND e.us > c.t_click AND e.us <= c.t_click + 86400000000 THEN e.us END) AS t_purchase
      |      FROM e JOIN c ON c.user_id = e.user_id GROUP BY e.user_id)
      |SELECT v.user_id,
      |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
      |            WHEN t_click IS NOT NULL THEN 2
      |            WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage,
      |  t_view, t_click, t_purchase
      |FROM v JOIN c ON c.user_id = v.user_id JOIN p ON p.user_id = v.user_id
      |ORDER BY v.user_id""".stripMargin

  /** Skew-salted two-phase aggregation — the manual mitigation the north
    * rule mandates for hot keys, expressed as an oracle-checked operator:
    * phase 1 aggregates on (event_type, salt = event_id % 64) so one hot
    * event_type spreads over 64 reducers; phase 2 combines the 64
    * partials per key. The output is provably identical to the plain
    * GROUP BY (the oracle states exactly that), because counts and
    * DECIMAL sums are associative — the floor-to-cents happens ONCE,
    * after the final combine.
    *
    * Scale note: with a zipfian key (one event_type = 50% of 10^12
    * rows), the unsalted shuffle sends half the corpus to one reducer;
    * salting bounds any reducer at ~1/64 of the hot key, and the
    * phase-2 shuffle carries #keys x 64 partial rows — nothing. AQE
    * skew-join splitting solves joins, but a skewed AGGREGATE needs the
    * salt (or partial agg to absorb it map-side; salting stays
    * necessary when the per-map key set is already unique, e.g. after a
    * distinct or when upstream partitioning aligns with the key). */
  def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events")
      .select(col("event_type"), (col("event_id") % 64).as("salt"), dec(col("value")).as("v"))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("c"), sum(col("v")).as("sv"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_events"),
        floor(sum(col("sv")) * 100).cast("long").as("sum_cents"))

  val qSaltedAggSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,4))) * 100) AS BIGINT) AS sum_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q_hop_window's window (1 hour, every 30 minutes) and floored-cents sum. */
  private[graft] def hopWindow(ts: Column): Column = window(ts, "1 hour", "30 minutes")
  private[graft] def sumCents(value: Column): Column = floor(sum(dec(value)) * 100).cast("long")

  /** Sliding (hopping) time-window aggregation via Spark's native
    * `window()` generator: 1-hour windows every 30 minutes, so each
    * event lands in exactly two windows. The oracle replicates the
    * window fan-out as an explicit 2-way UNNEST against DuckDB's
    * epoch-aligned time_bucket (both engines align 30-minute grids
    * identically). Money sums in floored cents (the decimal rule).
    *
    * Scale note: window() is a Generate (2 rows per event) followed by
    * a hash aggregate with map-side partial combine — the shuffle
    * carries per-(window) partials, not the event stream. This is also
    * byte-for-byte the aggregation Structured Streaming runs
    * incrementally with a watermark (StreamingOps.slidingCounts); here
    * it is pinned against an independent engine as a batch query. */
  def qHopWindow(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events")
      .groupBy(hopWindow(col("ts")).as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sumCents(col("value")).as("sum_cents"))
      .select(col("w.start").as("w_start"), col("n_events"), col("n_users"), col("sum_cents"))

  val qHopWindowSql: String =
    """WITH x AS (SELECT ts, user_id, value,
      |    time_bucket(INTERVAL 30 MINUTE, ts) - (k * INTERVAL 30 MINUTE) AS w_start
      |  FROM events, UNNEST([0, 1]) AS u(k))
      |SELECT w_start, COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(FLOOR(SUM(CAST(value AS DECIMAL(18,4))) * 100) AS BIGINT) AS sum_cents
      |FROM x GROUP BY w_start ORDER BY w_start""".stripMargin

  /** Z-order (Morton) clustering layout — the multi-dimensional sort
    * Iceberg/Delta call Z-ORDER: interleave the bits of two normalized
    * dimensions so range scans on EITHER dimension touch few tiles.
    * Both coordinates normalize to 16 bits (x*65535 div max), the
    * 32-bit interleave is an explicit 32-term shift-sum (generated
    * once, mirrored per dialect), and the top 4 interleaved bits ARE
    * the 16 quadtree tiles — bucketing needs no global window at all.
    * Output: per tile, the doc_id/n_chars bounding box — each tile
    * covers a contiguous rectangle, which is the clustering property a
    * file-per-tile layout exploits for min/max pruning.
    *
    * Scale: normalization max is one broadcast scalar; the morton code
    * is pure codegen'd scan-stage arithmetic; the rollup is a 16-group
    * partial agg. Nothing here is 100-TB-hostile — that is the point:
    * Z-ordering is a LAYOUT decision, not an expensive job. */
  def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val morton = (0 until 16).map(b =>
      s"shiftleft(shiftright(xs, $b) & 1, ${2 * b}) + shiftleft(shiftright(ys, $b) & 1, ${2 * b + 1})")
      .mkString(" + ")
    val docs = Tables.documents(s, dir)
    val mx = docs.agg(max(col("doc_id")).as("mx"), max(col("n_chars")).as("my"))
    docs.crossJoin(broadcast(mx))
      .selectExpr("doc_id", "n_chars",
        "CAST(doc_id * 65535 div greatest(mx, 1) AS BIGINT) AS xs",
        "CAST(n_chars * 65535 div greatest(my, 1) AS BIGINT) AS ys")
      .selectExpr("doc_id", "n_chars", s"CAST($morton AS BIGINT) AS z")
      .selectExpr("*", "shiftright(z, 28) AS tile")
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
  }

  val qZorderLayoutSql: String = {
    val morton = (0 until 16).map(b =>
      s"(((xs >> $b) & 1) << ${2 * b}) + (((ys >> $b) & 1) << ${2 * b + 1})")
      .mkString(" + ")
    s"""WITH m AS (SELECT MAX(doc_id) AS mx, MAX(n_chars) AS my FROM documents),
       |n AS (SELECT doc_id, n_chars,
       |        CAST(doc_id * 65535 // GREATEST(mx, 1) AS BIGINT) AS xs,
       |        CAST(n_chars * 65535 // GREATEST(my, 1) AS BIGINT) AS ys
       |      FROM documents CROSS JOIN m),
       |zc AS (SELECT doc_id, n_chars, CAST($morton AS BIGINT) AS z FROM n)
       |SELECT z >> 28 AS tile, COUNT(*) AS n_docs,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       |  MIN(z) AS min_z, MAX(z) AS max_z
       |FROM zc GROUP BY z >> 28 ORDER BY tile""".stripMargin
  }

  /** GROUPING SETS — the multi-granularity aggregation a reporting
    * layer asks of a corpus profile ((source, lang) detail, per-source
    * subtotal, grand total) computed in ONE pass instead of three
    * scans + a UNION. One SQL string runs through BOTH engines (the
    * q_ntile_curriculum pattern); NULL group markers are COALESCEd to
    * '(all)' so the display column is engine-independent (Spark's
    * grouping_id bit order differs from DuckDB's — the coalesced
    * columns sidestep it).
    *
    * Scale: Spark expands grouping sets before the aggregate
    * (one Expand + one partial-agg shuffle keyed on the padded
    * grouping keys) — 3x the map-side rows, never 3 scans. */
  val qGroupingSetsSql: String =
    """SELECT COALESCE(source, '(all)') AS source, COALESCE(lang, '(all)') AS lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY GROUPING SETS ((source, lang), (source), ())
      |ORDER BY source, lang""".stripMargin

  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("documents")
    s.sql(Tables.unordered(qGroupingSetsSql))
  }

  /** CDC/SCD "latest record wins" compaction: treat the event stream as
    * a change log per user and keep each key's newest row (ts desc,
    * event_id desc — a total order, since replayed logs carry
    * same-timestamp writes). The snapshot-maintenance primitive every
    * incremental table format (Iceberg/Delta MERGE) runs under the
    * hood.
    *
    * Scale: one window over the slim projected change log — the
    * standard compaction shape; max_by would save the rank column but
    * Spark's max_by is not deterministic under ties, so the explicit
    * row_number with a total order is the engine-portable form. */
  def qCdcLatest(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        floor(dec(col("value")) * 100).cast("long").as("value_cents"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)))
      .withColumn("n_changes", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("value_cents").as("last_value_cents"),
        col("n_changes"))

  val qCdcLatestSql: String =
    """WITH r AS (SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT) AS value_cents,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      |  FROM events)
      |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
      |  value_cents AS last_value_cents, CAST(n_changes AS BIGINT) AS n_changes
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_cdc_latest" -> ((qCdcLatest _, Some(qCdcLatestSql))),
    "q_grouping_sets" -> ((qGroupingSets _, Some(qGroupingSetsSql))),
    "q_zorder_layout" -> ((qZorderLayout _, Some(qZorderLayoutSql))),
    "q_hop_window" -> ((qHopWindow _, Some(qHopWindowSql))),
    "q_salted_agg" -> ((qSaltedAgg _, Some(qSaltedAggSql))),
    "q_funnel" -> ((qFunnel _, Some(qFunnelSql))),
    "q_range_join" -> ((qRangeJoin _, Some(qRangeJoinSql))),
    "q_pivot_langs" -> ((qPivotLangs _, Some(qPivotLangsSql))),
    "q_anti_join" -> ((qAntiJoin _, Some(qAntiJoinSql))),
    "q_set_ops" -> ((qSetOps _, Some(qSetOpsSql))),
    "q_rollup_revenue" -> ((qRollupRevenue _, Some(qRollupRevenueSql))),
    "q_brand_stats" -> ((qBrandStats _, Some(qBrandStatsSql))),
    "q_asof_join" -> ((qAsofJoin _, Some(qAsofJoinSql))),
    "q_agg_pushdown" -> ((qAggPushdown _, Some(qAggPushdownSql))),
    "q_join_broadcast" -> ((qJoinBroadcast _, Some(qJoinBroadcastSql))),
    "q_topk_revenue" -> ((qTopkRevenue _, Some(qTopkRevenueSql))),
    "q_window_running" -> ((qWindowRunning _, Some(qWindowRunningSql))),
    "q_stitch_order" -> ((qStitchOrder _, Some(qStitchOrderSql))),
    "q_page_sort" -> ((qPageSort _, Some(qPageSortSql))),
    "q_freq_argmax" -> ((qFreqArgmax _, Some(qFreqArgmaxSql))),
    "q_dupkey_fold" -> ((qDupkeyFold _, Some(qDupkeyFoldSql))),
    "q_containment_join" -> ((qContainmentJoin _, Some(qContainmentJoinSql))),
    "q_sessionize" -> ((qSessionize _, Some(qSessionizeSql))),
    "q_json_extract" -> ((qJsonExtract _, Some(qJsonExtractSql))))
}
