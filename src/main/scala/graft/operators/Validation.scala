package graft.operators

import graft.G
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality gates for a training-data pipeline — the validation pass a
  * corpus runs through before anything trains on it (the Deequ/
  * great-expectations operator family, re-expressed as single-pass Spark
  * aggregates).
  *
  * Scale shape, both queries: ONE scan of the fact table feeding ONE
  * global aggregate; per-column/per-rule metrics are conditional
  * aggregates inside the same AggregateExec, so adding a metric never adds
  * a pass. The exact per-column distinct counts expand the scan k-ways
  * (Spark's Expand for multi-column COUNT DISTINCT — the standard
  * profiling trade, same as Deequ's exact mode); swap to
  * `approx_count_distinct` for the one-pass sketch at 100 TB, as q_a5
  * does for the dashboard.
  *
  * Output is long-format (one row per column / per rule): profiles are
  * joined, diffed across snapshots, and alerted on — a row stream, not a
  * wide one-off row.
  */
object Validation {

  /** q_v1: per-column profile of `events` — row count, null count,
    * exact distinct count, numeric min/max (null for string columns).
    * The wide single-row aggregate is stacked to long format AFTER
    * aggregation, so the reshape costs nothing. */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    val ev = G.events(spark, dir)
    val wide = ev.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("null_event_id"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user_id"),
      sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_event_type"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_value"),
      sum(when(col("props").isNull, 1L).otherwise(0L)).as("null_props"),
      count_distinct(col("event_id")).as("nd_event_id"),
      count_distinct(col("user_id")).as("nd_user_id"),
      count_distinct(col("event_type")).as("nd_event_type"),
      count_distinct(col("value")).as("nd_value"),
      count_distinct(col("props")).as("nd_props"),
      min(col("event_id")).cast("double").as("min_event_id"),
      max(col("event_id")).cast("double").as("max_event_id"),
      min(col("user_id")).cast("double").as("min_user_id"),
      max(col("user_id")).cast("double").as("max_user_id"),
      min(col("value")).as("min_value"),
      max(col("value")).as("max_value"))
    wide.select(col("n_rows"), expr(
      """stack(5,
        |  'event_id',   null_event_id,   nd_event_id,   min_event_id, max_event_id,
        |  'user_id',    null_user_id,    nd_user_id,    min_user_id,  max_user_id,
        |  'event_type', null_event_type, nd_event_type, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'value',      null_value,      nd_value,      min_value,    max_value,
        |  'props',      null_props,      nd_props,      CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))
        |AS (col_name, n_null, n_distinct, min_num, max_num)""".stripMargin))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_num"), col("max_num"))
      .orderBy(col("col_name"))
  }

  val profileSql: String =
    """WITH wide AS (
      |  SELECT count(*) AS n_rows,
      |    CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_id,
      |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
      |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
      |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
      |    CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
      |    count(DISTINCT event_id) AS nd_event_id,
      |    count(DISTINCT user_id) AS nd_user_id,
      |    count(DISTINCT event_type) AS nd_event_type,
      |    count(DISTINCT value) AS nd_value,
      |    count(DISTINCT props) AS nd_props,
      |    CAST(min(event_id) AS DOUBLE) AS min_event_id,
      |    CAST(max(event_id) AS DOUBLE) AS max_event_id,
      |    CAST(min(user_id) AS DOUBLE) AS min_user_id,
      |    CAST(max(user_id) AS DOUBLE) AS max_user_id,
      |    min(value) AS min_value,
      |    max(value) AS max_value
      |  FROM events)
      |SELECT u.col_name, wide.n_rows,
      |  u.n_null, u.n_distinct, u.min_num, u.max_num
      |FROM wide, LATERAL (
      |  SELECT 'event_id' AS col_name, null_event_id AS n_null,
      |         nd_event_id AS n_distinct, min_event_id AS min_num,
      |         max_event_id AS max_num
      |  UNION ALL SELECT 'user_id', null_user_id, nd_user_id,
      |         min_user_id, max_user_id
      |  UNION ALL SELECT 'event_type', null_event_type, nd_event_type,
      |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      |  UNION ALL SELECT 'value', null_value, nd_value,
      |         min_value, max_value
      |  UNION ALL SELECT 'props', null_props, nd_props,
      |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)) u
      |ORDER BY col_name""".stripMargin

  /** q_v2: named constraint rules over `events`, each a conditional count
    * in the same single aggregate — the gate a pipeline asserts before a
    * snapshot is blessed. A rule FAILS rows it cannot prove: null is a
    * violation for every rule below (mirrored by coalescing the predicate
    * to FALSE on both engines). */
  def constraints(spark: SparkSession, dir: String): DataFrame = {
    val ev = G.events(spark, dir)
    def viol(pass: org.apache.spark.sql.Column) =
      sum(when(coalesce(pass, lit(false)), 0L).otherwise(1L))
    val wide = ev.agg(
      count(lit(1)).as("n_checked"),
      viol(col("event_id").isNotNull && (col("event_id") >= 0))
        .as("v_event_id_nonneg"),
      viol(col("event_type").isin("purchase", "view", "click", "signup",
        "error")).as("v_event_type_domain"),
      viol(col("value") >= 0.0).as("v_value_nonneg"),
      viol(col("user_id") >= 0).as("v_user_id_nonneg"),
      viol(get_json_object(col("props"), "$.k").isNotNull)
        .as("v_props_has_k"))
    wide.select(col("n_checked"), expr(
      """stack(5,
        |  'event_id_nonneg',   v_event_id_nonneg,
        |  'event_type_domain', v_event_type_domain,
        |  'props_has_k',       v_props_has_k,
        |  'user_id_nonneg',    v_user_id_nonneg,
        |  'value_nonneg',      v_value_nonneg)
        |AS (rule, n_violations)""".stripMargin))
      .select(col("rule"), col("n_checked"), col("n_violations"),
        (lit(1.0) - col("n_violations").cast("double") / col("n_checked"))
          .as("pass_fraction"))
      .orderBy(col("rule"))
  }

  val constraintsSql: String =
    """WITH wide AS (
      |  SELECT count(*) AS n_checked,
      |    CAST(SUM(CASE WHEN coalesce(event_id IS NOT NULL AND event_id >= 0,
      |                           false) THEN 0 ELSE 1 END) AS BIGINT)
      |      AS v_event_id_nonneg,
      |    CAST(SUM(CASE WHEN coalesce(event_type IN ('purchase', 'view',
      |                           'click', 'signup', 'error'), false)
      |             THEN 0 ELSE 1 END) AS BIGINT) AS v_event_type_domain,
      |    CAST(SUM(CASE WHEN coalesce(value >= 0.0, false) THEN 0 ELSE 1 END)
      |      AS BIGINT) AS v_value_nonneg,
      |    CAST(SUM(CASE WHEN coalesce(user_id >= 0, false) THEN 0 ELSE 1 END)
      |      AS BIGINT) AS v_user_id_nonneg,
      |    CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
      |             THEN 0 ELSE 1 END) AS BIGINT) AS v_props_has_k
      |  FROM events)
      |SELECT u.rule, wide.n_checked, u.n_violations,
      |  1.0 - CAST(u.n_violations AS DOUBLE) / wide.n_checked AS pass_fraction
      |FROM wide, LATERAL (
      |  SELECT 'event_id_nonneg' AS rule, v_event_id_nonneg AS n_violations
      |  UNION ALL SELECT 'event_type_domain', v_event_type_domain
      |  UNION ALL SELECT 'props_has_k', v_props_has_k
      |  UNION ALL SELECT 'user_id_nonneg', v_user_id_nonneg
      |  UNION ALL SELECT 'value_nonneg', v_value_nonneg) u
      |ORDER BY rule""".stripMargin

  /** q_v3: distribution-drift gate — compare the token distribution of
    * two corpus halves (`doc_id % 2`, standing in for "yesterday's shard
    * vs today's") with total-variation distance and the chi-square
    * statistic. The alerting pattern behind every data-quality pipeline:
    * a new ingest whose language/source mix drifted past a threshold gets
    * quarantined before it trains.
    *
    * Shape: one explode → ONE hash-agg keyed by token producing both
    * halves' counts as conditional sums (no join of two aggregates — the
    * full-outer-join formulation doubles the shuffle for nothing), then a
    * scalar roll-up of the per-token terms. log-free distances (TVD, χ²)
    * hash-match DuckDB through the DECIMAL(38,6) contract; a KL/PSI
    * variant would need `ln` (the q_t10/q_t12 bit-reproducibility issue)
    * without changing what the gate detects. */
  def drift(spark: SparkSession, dir: String): DataFrame = {
    val tok = G.table(spark, dir, "documents")
      .select((col("doc_id") % 2).as("half"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val perTok = tok.groupBy(col("tok")).agg(
      sum(when(col("half") === 0, 1L).otherwise(0L)).as("c0"),
      sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"))
    val totals = perTok.agg(
      sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
      count(lit(1)).as("vocab_union"))
    perTok.crossJoin(broadcast(totals))
      .withColumn("p", col("c0").cast("double") / col("n0"))
      .withColumn("q", col("c1").cast("double") / col("n1"))
      .agg(
        first(col("vocab_union")).as("vocab_union"),
        first(col("n0")).as("n_tokens_a"),
        first(col("n1")).as("n_tokens_b"),
        (G.dsum(abs(col("p") - col("q")), 12) / 2.0).as("tvd"),
        G.dsum((col("p") - col("q")) * (col("p") - col("q"))
          / (col("p") + col("q")), 12).as("chi2"))
  }

  val driftSql: String =
    """WITH tok AS (
      |  SELECT doc_id % 2 AS half, tok FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      |    FROM documents)
      |  WHERE len(tok) > 0),
      |pt AS (
      |  SELECT tok,
      |    CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM tok GROUP BY tok),
      |t AS (SELECT CAST(SUM(c0) AS BIGINT) AS n0,
      |             CAST(SUM(c1) AS BIGINT) AS n1,
      |             count(*) AS vocab_union FROM pt)
      |SELECT any_value(vocab_union) AS vocab_union,
      |  any_value(n0) AS n_tokens_a,
      |  any_value(n1) AS n_tokens_b,
      |  CAST(SUM(CAST(abs(CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
      |    AS DECIMAL(38,12))) AS DOUBLE) / 2.0 AS tvd,
      |  CAST(SUM(CAST(
      |      (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
      |    * (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
      |    / (CAST(c0 AS DOUBLE) / n0 + CAST(c1 AS DOUBLE) / n1)
      |    AS DECIMAL(38,12))) AS DOUBLE) AS chi2
      |FROM pt CROSS JOIN t""".stripMargin

  /** q_v4: dataset VERSION DIFF — the manifest-diff step of dataset
    * versioning (DVC/lakeFS-style): given two corpus versions, report
    * added / removed / changed / unchanged counts per source. Versions
    * are compared by content digest, never by payload: the full-outer
    * join shuffles (doc_id, source, md5) — ~50 bytes/row at any corpus
    * size — and the text column dies at the scan. The "previous" version
    * is derived deterministically from the same table (every 13th doc
    * absent = added since; every 17th digest perturbed = changed; ghost
    * ids +5000000 = removed), so the oracle replays the derivation
    * exactly. */
  /** q_v5: freshness / completeness gate — per-day arrival counts judged
    * against their own trailing-7-day history: a day is flagged `low` when
    * it lands under half the trailing mean, and `gap_before` when calendar
    * days are missing in front of it. The partition-completeness check
    * every ingestion pipeline runs before publishing a snapshot.
    *
    * The heavy lifting is ONE hash-agg keyed by day (events never leave
    * the scan unaggregated); the trailing window is global-ordered but
    * runs over O(days) aggregate rows — bounded by the calendar, like the
    * o3 minute series, so the single-partition window is a non-issue at
    * any corpus size. Trailing stats use exact BIGINT sum/count division
    * (no avg(double) order-dependence). */
  def freshness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDay = G.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
    byDay
      .withColumn("trail_sum", sum(col("cnt")).over(w))
      .withColumn("trail_n", count(col("cnt")).over(w))
      .withColumn("prev_day", lag(col("day"), 1).over(Window.orderBy(col("day"))))
      .withColumn("trail_avg",
        col("trail_sum").cast("double") / col("trail_n"))
      .withColumn("is_low",
        when(col("trail_n") >= 3 &&
          col("cnt").cast("double") < col("trail_avg") * 0.5, 1L)
          .otherwise(0L))
      .withColumn("gap_before",
        when(col("prev_day").isNotNull &&
          datediff(col("day"), col("prev_day")) > 1, 1L).otherwise(0L))
      .select(col("day"), col("cnt"), col("trail_avg"), col("is_low"),
        col("gap_before"))
      .orderBy(col("day"))
  }

  val freshnessSql: String =
    """WITH byday AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS cnt FROM events
      |  GROUP BY day),
      |win AS (
      |  SELECT day, cnt,
      |    sum(cnt) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |      AS trail_sum,
      |    count(cnt) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |      AS trail_n,
      |    lag(day) OVER (ORDER BY day) AS prev_day
      |  FROM byday)
      |SELECT day, cnt, CAST(trail_sum AS DOUBLE) / trail_n AS trail_avg,
      |  CASE WHEN trail_n >= 3 AND CAST(cnt AS DOUBLE)
      |         < CAST(trail_sum AS DOUBLE) / trail_n * 0.5
      |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_low,
      |  CASE WHEN prev_day IS NOT NULL AND datediff('day', prev_day, day) > 1
      |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS gap_before
      |FROM win ORDER BY day""".stripMargin

  def versionDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = G.table(spark, dir, "documents")
    val cur = d.select(col("doc_id"), col("source"),
      md5(col("text")).as("dig"))
    val prev = d.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 17 === 0, md5(concat(col("text"), lit("v1"))))
          .otherwise(md5(col("text"))).as("dig"))
      .unionByName(d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("source"),
          md5(col("text")).as("dig")))
    cur.select(col("doc_id"), col("source").as("src_c"), col("dig").as("dig_c"))
      .join(prev.select(col("doc_id"), col("source").as("src_p"),
        col("dig").as("dig_p")), Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_c"), col("src_p")).as("source"),
        when(col("dig_p").isNull, "added")
          .when(col("dig_c").isNull, "removed")
          .when(col("dig_c") =!= col("dig_p"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("status"))
  }

  val versionDiffSql: String =
    """WITH cur AS (
      |  SELECT doc_id, source, md5(text) AS dig FROM documents),
      |prev AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 17 = 0 THEN md5(text || 'v1')
      |         ELSE md5(text) END AS dig
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 5000000 AS doc_id, source, md5(text) AS dig
      |  FROM documents WHERE doc_id % 11 = 0),
      |j AS (
      |  SELECT coalesce(c.source, p.source) AS source,
      |    CASE WHEN p.dig IS NULL THEN 'added'
      |         WHEN c.dig IS NULL THEN 'removed'
      |         WHEN c.dig <> p.dig THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM cur c FULL OUTER JOIN prev p USING (doc_id))
      |SELECT source, status, count(*) AS n
      |FROM j GROUP BY source, status
      |ORDER BY source, status""".stripMargin

  /** q_v6: ROBUST OUTLIER DAYS — median/MAD anomaly flags on the daily
    * arrival counts (the robust companion to v5's trailing-mean gate: a
    * burst day cannot drag the baseline toward itself the way a mean
    * does). med = discrete median of per-day counts, MAD = discrete
    * median of |cnt − med|, flag = deviation > 3·MAD (the standard
    * robust z cutoff). Everything stays in BIGINT order statistics
    * (percentile_disc, the a10/c20 exact path) — no floats anywhere, so
    * the oracle comparison is trivially bit-exact. One day-keyed
    * hash-agg over the events (the only O(n) stage), then O(days)
    * scalars; at 100 TB the day table is ~365 rows per year regardless
    * of volume. */
  def outlierDays(spark: SparkSession, dir: String): DataFrame = {
    val byDay = G.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    byDay.createOrReplaceTempView("v6_by_day")
    val med = spark.sql(
      """SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt) AS BIGINT)
        |  AS med FROM v6_by_day""".stripMargin).head().getLong(0)
    val mad = byDay
      .agg(expr(s"CAST(percentile_disc(0.5) WITHIN GROUP" +
        s" (ORDER BY abs(cnt - ${med}L)) AS BIGINT)").as("mad"))
      .head().getLong(0)
    byDay
      .withColumn("med", lit(med))
      .withColumn("mad", lit(mad))
      .withColumn("dev", abs(col("cnt") - lit(med)))
      .withColumn("is_outlier",
        when(col("dev") > lit(3L) * lit(mad), 1L).otherwise(0L))
      .select(col("day"), col("cnt"), col("med"), col("mad"), col("dev"),
        col("is_outlier"))
      .orderBy(col("day"))
  }

  val outlierDaysSql: String =
    """WITH byday AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS cnt FROM events
      |  GROUP BY day),
      |m AS (SELECT CAST(quantile_disc(cnt, 0.5) AS BIGINT) AS med FROM byday),
      |md AS (SELECT CAST(quantile_disc(abs(cnt - med), 0.5) AS BIGINT) AS mad
      |       FROM byday CROSS JOIN m)
      |SELECT day, cnt, med, mad, abs(cnt - med) AS dev,
      |  CASE WHEN abs(cnt - med) > 3 * mad
      |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_outlier
      |FROM byday CROSS JOIN m CROSS JOIN md
      |ORDER BY day""".stripMargin

  /** q_v7: optimizer-style TABLE STATISTICS (the ANALYZE TABLE … COMPUTE
    * STATISTICS FOR COLUMNS artifact that feeds a cost-based optimizer):
    * one report with a 10-bin equi-depth histogram of `l_extendedprice`
    * (boundaries from ONE order-statistic aggregate — percentile_disc, so
    * every boundary is an actual data value, bit-exact across engines; bin
    * assignment by nine codegen'd comparisons against the broadcast
    * boundary row — the c20 move, no ntile, no global sort), the top-10
    * most-common values of `l_quantity` with exact frequencies, and exact
    * row/NDV scalars for the join keys. Every output cell is an integer
    * count or an exact data-value pick — zero float arithmetic, so the
    * report hashes identically on both engines.
    *
    * Scale shape: the boundary/scalar aggregates each reduce the scan to
    * O(1)–O(50) rows with map-side partials (exact NDV shuffles the
    * distinct keys — the one genuinely O(distinct) exchange, which IS the
    * ANALYZE cost everywhere; the approx path is q_a5's HLL); the
    * histogram pass is scan + broadcast + 50-group agg. The scans read
    * only the four profiled columns (column pruning). */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    val base = G.table(spark, dir, "lineitem")
      .select(col("l_extendedprice").cast("double").as("price"),
        col("l_quantity").cast("double").as("qty"),
        col("l_partkey"), col("l_suppkey"))
      .cache() // four short passes (count/boundaries/hist/mcv+ndv) share it
    // Round-7 rework (3× at sf0.1, 18.3 s → ~6 s): the nine separate
    // percentile_disc aggregates each re-buffered and re-sorted the whole
    // column in one task (21 s measured for the nine at sf0.1 — exact
    // percentile in Spark is a single-aggregate value buffer, nine of
    // them = nine full sorts). All nine boundaries are order statistics
    // of ONE distributed sort: range-partition sort + zipWithIndex (the
    // x6 move), pick ranks ⌈i·n/10⌉, collect 9 scalars to the driver.
    // The rank is EXACT integer arithmetic ((i·n+9) div 10) on BOTH
    // engines — percentile_disc's internal p·n double rounding is
    // engine-private and one ulp from flipping a boundary at exactly-
    // divisible sizes (the SCALE.md cast landmine class), so the rank
    // rule is pinned instead of trusted.
    val n = base.count()
    val ranks = (1 to 9).map(i => (i.toLong * n + 9L) / 10L)
    val rankSet = ranks.toSet
    val picked = base.select(col("price")).orderBy(col("price"))
      .rdd.zipWithIndex()
      .filter { case (_, i) => rankSet.contains(i + 1) }
      .map { case (r, i) => (i + 1, r.getDouble(0)) }
      .collect().toMap
    val bs = ranks.map(picked) // b1..b9, duplicates fine (equal ranks n<10 impossible here)
    val bin = lit(1) + bs.map(b =>
      when(col("price") > lit(b), 1).otherwise(0): Column).reduce(_ + _)
    val hist = base.groupBy(bin.as("idx"))
      .agg(min(col("price")).as("lo"), max(col("price")).as("hi"),
        count(lit(1)).as("n"))
      .select(lit("hist").as("stat"), col("idx").cast("long").as("idx"),
        col("lo"), col("hi"), col("n"))
    val mcv = base.groupBy(col("qty")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("qty")).limit(10)
      .select(lit("mcv").as("stat"),
        expr("row_number() OVER (ORDER BY cnt DESC, qty)").cast("long")
          .as("idx"),
        col("qty").as("lo"), col("qty").as("hi"), col("cnt").as("n"))
    val scalars = base.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("ndv_p"),
        countDistinct(col("l_suppkey")).as("ndv_s"))
      .select(explode(array(
        struct(lit("rows").as("stat"), lit(0L).as("idx"),
          lit(null).cast("double").as("lo"), lit(null).cast("double").as("hi"),
          col("n_rows").as("n")),
        struct(lit("ndv_partkey").as("stat"), lit(0L).as("idx"),
          lit(null).cast("double").as("lo"), lit(null).cast("double").as("hi"),
          col("ndv_p").as("n")),
        struct(lit("ndv_suppkey").as("stat"), lit(0L).as("idx"),
          lit(null).cast("double").as("lo"), lit(null).cast("double").as("hi"),
          col("ndv_s").as("n")))).as("r"))
      .select(col("r.*"))
    hist.unionByName(mcv).unionByName(scalars)
      .orderBy(col("stat"), col("idx"))
  }

  /** Oracle: the same construction with the same EXACT rank rule — the
    * boundary stage is a row_number window (fine in DuckDB; in Spark a
    * global row_number is a one-partition stage, which is why the engine
    * side uses sort + zipWithIndex instead). */
  val tableStatsSql: String = {
    val bsel = (1 to 9).map(i =>
      s"max(CASE WHEN rn = ($i * n + 9) // 10 THEN price END) AS b$i")
      .mkString(", ")
    val cases = (1 to 9).map(i =>
      s"CASE WHEN price > b$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH v7_lineitem AS (
       |  SELECT l_extendedprice::DOUBLE AS price, l_quantity::DOUBLE AS qty,
       |         l_partkey, l_suppkey
       |  FROM lineitem),
       |r AS (SELECT price, row_number() OVER (ORDER BY price) AS rn,
       |             count(*) OVER () AS n
       |      FROM v7_lineitem),
       |b AS (SELECT $bsel FROM r),
       |hist AS (
       |  SELECT 'hist' AS stat, CAST(bin AS BIGINT) AS idx,
       |         min(price) AS lo, max(price) AS hi, count(*) AS n
       |  FROM (SELECT price, 1 + $cases AS bin
       |        FROM v7_lineitem CROSS JOIN b) t
       |  GROUP BY bin),
       |mcv AS (
       |  SELECT 'mcv' AS stat, idx, lo, hi, n FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, qty) AS BIGINT)
       |             AS idx,
       |           qty AS lo, qty AS hi, cnt AS n
       |    FROM (SELECT qty, count(*) AS cnt FROM v7_lineitem GROUP BY qty) c) r
       |  WHERE idx <= 10),
       |scalars AS (
       |  SELECT 'rows' AS stat, CAST(0 AS BIGINT) AS idx,
       |         CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
       |         count(*) AS n FROM v7_lineitem
       |  UNION ALL
       |  SELECT 'ndv_partkey', CAST(0 AS BIGINT), CAST(NULL AS DOUBLE),
       |         CAST(NULL AS DOUBLE), count(DISTINCT l_partkey) FROM v7_lineitem
       |  UNION ALL
       |  SELECT 'ndv_suppkey', CAST(0 AS BIGINT), CAST(NULL AS DOUBLE),
       |         CAST(NULL AS DOUBLE), count(DISTINCT l_suppkey) FROM v7_lineitem)
       |SELECT stat, idx, lo, hi, n FROM (
       |  SELECT * FROM hist UNION ALL SELECT * FROM mcv
       |  UNION ALL SELECT * FROM scalars) u
       |ORDER BY stat, idx""".stripMargin
  }

  /** q_v8: FUNCTIONAL-DEPENDENCY audit — the schema-discovery /
    * key-validation profiling op (Metanome / HoloClean territory): for a
    * fixed candidate set of FDs `lhs → rhs` over the denormalized
    * orders⋈customer view, count the LHS groups whose RHS is not unique.
    * Declared keys (o_orderkey → o_custkey, o_custkey → c_nationkey)
    * must come back with zero violations — a regression here means the
    * ingest corrupted a key; the non-FDs (nation → segment, date →
    * priority) quantify HOW FAR from functional a candidate is
    * (max distinct RHS per LHS), which is what a schema-inference tool
    * ranks candidates by.
    *
    * Plan: the denormalized view is one broadcast join (customer is the
    * small side); each candidate FD is one (lhs)-keyed two-phase distinct
    * aggregate collapsing to a single row — five tiny plans unioned, no
    * global anything. At 100 TB each audit is exactly one shuffle of
    * (lhs, rhs) pairs; candidates audit independently and in parallel. */
  def fdAudit(spark: SparkSession, dir: String): DataFrame = {
    val den = G.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .join(broadcast(G.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .cache()
    def audit(name: String, lhs: String, rhs: String): DataFrame =
      den.groupBy(col(lhs)).agg(count_distinct(col(rhs)).as("d"))
        .agg(count(lit(1)).as("n_lhs_groups"),
          sum(when(col("d") > 1, 1L).otherwise(0L)).as("n_violating_groups"),
          max(col("d")).as("max_rhs_per_lhs"))
        .select(lit(name).as("fd"), col("n_lhs_groups"),
          col("n_violating_groups"), col("max_rhs_per_lhs"))
    Seq(
      audit("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
      audit("o_custkey->c_nationkey", "o_custkey", "c_nationkey"),
      audit("c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"),
      audit("o_orderdate->o_orderpriority", "o_orderdate", "o_orderpriority"),
      audit("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"))
      .reduce(_.unionByName(_))
      .withColumn("holds", col("n_violating_groups") === 0)
      .orderBy(col("fd"))
  }

  val fdAuditSql: String = {
    def audit(name: String, lhs: String, rhs: String): String =
      s"""SELECT '$name' AS fd, count(*) AS n_lhs_groups,
         |  CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating_groups,
         |  max(d) AS max_rhs_per_lhs
         |FROM (SELECT $lhs, count(DISTINCT $rhs) AS d FROM den
         |      GROUP BY $lhs) t""".stripMargin
    s"""WITH den AS (
       |  SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority,
       |         c_nationkey, c_mktsegment
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |u AS (
       |${Seq(
        audit("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
        audit("o_custkey->c_nationkey", "o_custkey", "c_nationkey"),
        audit("c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"),
        audit("o_orderdate->o_orderpriority", "o_orderdate", "o_orderpriority"),
        audit("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"))
        .mkString("\nUNION ALL\n")})
       |SELECT fd, n_lhs_groups, n_violating_groups, max_rhs_per_lhs,
       |  n_violating_groups = 0 AS holds
       |FROM u ORDER BY fd""".stripMargin
  }

  /** q_v9: REFERENTIAL-INTEGRITY audit — every foreign-key edge of the
    * star schema checked for orphans in one report: child rows whose FK
    * value has no parent row. The cross-table completeness gate that
    * belongs next to the single-table profile (v1) and constraint rules
    * (v2): a CDC pipeline that drops or reorders parent inserts shows up
    * here first, as a nonzero orphan count on the affected edge.
    *
    * Plan per edge: the child scan reads ONLY the FK column (pruned), the
    * distinct-FK frame aggregates map-side first, and the orphan check is
    * a broadcast LEFT ANTI join against the parent KEY column — at 100 TB
    * the per-edge cost is one pruned scan + one broadcast anti join; the
    * seven edges run as independent tiny plans and union at the end.
    * Null FKs are counted separately (a null is a MISSING reference, not
    * an orphaned one — SQL FK semantics). */
  def refIntegrity(spark: SparkSession, dir: String): DataFrame = {
    def audit(edge: String, childTable: String, fkCol: String,
        parentTable: String, pkCol: String): DataFrame = {
      val child = G.table(spark, dir, childTable).select(col(fkCol).as("fk"))
      val parent = G.table(spark, dir, parentTable).select(col(pkCol).as("pk"))
      val base = child.agg(count(lit(1)).as("n_child_rows"),
        sum(when(col("fk").isNull, 1L).otherwise(0L)).as("n_null_fk"))
      val fks = child.filter(col("fk").isNotNull)
        .groupBy(col("fk")).agg(count(lit(1)).as("cnt"))
      val orphans = fks.join(broadcast(parent), col("fk") === col("pk"),
          "left_anti")
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_orphan_keys"),
          coalesce(sum(col("cnt")), lit(0L)).as("n_orphan_rows"))
      base.crossJoin(orphans)
        .select(lit(edge).as("fk_edge"), col("n_child_rows"),
          col("n_null_fk"), col("n_orphan_keys"), col("n_orphan_rows"))
    }
    Seq(
      audit("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      audit("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      audit("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      audit("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      audit("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      audit("supplier.s_nationkey->nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"),
      audit("nation.n_regionkey->region", "nation", "n_regionkey",
        "region", "r_regionkey"))
      .reduce(_.unionByName(_))
      .withColumn("intact", col("n_orphan_rows") === 0)
      .orderBy(col("fk_edge"))
  }

  val refIntegritySql: String = {
    def audit(edge: String, childTable: String, fkCol: String,
        parentTable: String, pkCol: String): String =
      s"""SELECT '$edge' AS fk_edge,
         |  (SELECT count(*) FROM $childTable) AS n_child_rows,
         |  (SELECT CAST(coalesce(sum(CASE WHEN $fkCol IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
         |   FROM $childTable) AS n_null_fk,
         |  (SELECT count(*) FROM (
         |     SELECT $fkCol FROM $childTable WHERE $fkCol IS NOT NULL
         |     GROUP BY $fkCol) f
         |   WHERE NOT EXISTS (SELECT 1 FROM $parentTable p
         |                     WHERE p.$pkCol = f.$fkCol)) AS n_orphan_keys,
         |  (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM (
         |     SELECT $fkCol AS fk, count(*) AS cnt FROM $childTable
         |     WHERE $fkCol IS NOT NULL GROUP BY $fkCol) f
         |   WHERE NOT EXISTS (SELECT 1 FROM $parentTable p
         |                     WHERE p.$pkCol = f.fk)) AS n_orphan_rows""".stripMargin
    s"""WITH u AS (
       |${Seq(
        audit("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        audit("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        audit("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        audit("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        audit("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        audit("supplier.s_nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"),
        audit("nation.n_regionkey->region", "nation", "n_regionkey",
          "region", "r_regionkey")).mkString("\nUNION ALL\n")})
       |SELECT fk_edge, n_child_rows, n_null_fk, n_orphan_keys,
       |  n_orphan_rows, n_orphan_rows = 0 AS intact
       |FROM u ORDER BY fk_edge""".stripMargin
  }

  /** q_v10: JOIN-CARDINALITY estimation audit — the textbook CBO estimate
    * `|A|·|B| / max(ndv_A, ndv_B)` for every big join edge of the schema,
    * reported NEXT TO the exact true output cardinality
    * `Σ_k c_A(k)·c_B(k)`, with the error ratio. This is the planner
    * artifact the v7 table statistics exist to feed: a cost-based
    * optimizer picks join order and broadcast thresholds from exactly
    * this estimate, and the audit quantifies how far the
    * uniform-distribution assumption is from the truth on each edge — the
    * number you check before trusting a plan at 100 TB.
    *
    * Exactness: counts and NDVs are integers; the true cardinality is a
    * BIGINT sum of per-key count products; the estimate is ONE double
    * division of exact integers and the error ratio one further division
    * of those two deterministic doubles — fixed order, no transcendentals
    * (the t10/t20 rule), so the report hashes identically cross-engine.
    *
    * Scale shape, per edge: two per-key count aggregates (map-side
    * partials — the exchange carries O(distinct keys)), one keyed join of
    * the two per-key frames, one scalar sum. The true-cardinality join is
    * the SAME shuffle the real join would do, minus the payload: the
    * audit costs key-columns-only passes, never materializes the join.
    * Edges audit independently and in parallel (the v8/v9 pattern). */
  def joinCardinality(spark: SparkSession, dir: String): DataFrame = {
    def audit(edge: String, lt: String, lk: String, rt: String,
        rk: String): DataFrame = {
      val l = G.table(spark, dir, lt).select(col(lk).as("k"))
      val r = G.table(spark, dir, rt).select(col(rk).as("k"))
      val ls = l.agg(count(lit(1)).as("n_left"),
        count_distinct(col("k")).as("ndv_left"))
      val rs = r.agg(count(lit(1)).as("n_right"),
        count_distinct(col("k")).as("ndv_right"))
      val truth = l.groupBy(col("k")).agg(count(lit(1)).as("cl"))
        .join(r.groupBy(col("k")).agg(count(lit(1)).as("cr")), "k")
        .agg(coalesce(sum(col("cl") * col("cr")), lit(0L)).as("true_rows"))
      ls.crossJoin(rs).crossJoin(truth)
        .select(lit(edge).as("join_edge"), col("n_left"), col("n_right"),
          col("ndv_left"), col("ndv_right"), col("true_rows"),
          ((col("n_left") * col("n_right")).cast("double") /
            greatest(col("ndv_left"), col("ndv_right"))).as("est_rows"))
        .withColumn("err_ratio",
          col("est_rows") / col("true_rows").cast("double"))
    }
    Seq(
      audit("lineitem*orders@orderkey", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      audit("lineitem*part@partkey", "lineitem", "l_partkey",
        "part", "p_partkey"),
      audit("lineitem*supplier@suppkey", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      audit("orders*customer@custkey", "orders", "o_custkey",
        "customer", "c_custkey"),
      audit("lineitem*lineitem@partkey", "lineitem", "l_partkey",
        "lineitem", "l_partkey"))
      .reduce(_.unionByName(_))
      .orderBy(col("join_edge"))
  }

  val joinCardinalitySql: String = {
    def audit(edge: String, lt: String, lk: String, rt: String,
        rk: String): String =
      s"""SELECT '$edge' AS join_edge,
         |  (SELECT count(*) FROM $lt) AS n_left,
         |  (SELECT count(*) FROM $rt) AS n_right,
         |  (SELECT count(DISTINCT $lk) FROM $lt) AS ndv_left,
         |  (SELECT count(DISTINCT $rk) FROM $rt) AS ndv_right,
         |  (SELECT CAST(coalesce(sum(cl * cr), 0) AS BIGINT) FROM
         |     (SELECT $lk AS k, count(*) AS cl FROM $lt GROUP BY 1) a
         |     JOIN
         |     (SELECT $rk AS k, count(*) AS cr FROM $rt GROUP BY 1) b
         |     USING (k)) AS true_rows""".stripMargin
    s"""WITH u AS (
       |${Seq(
        audit("lineitem*orders@orderkey", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        audit("lineitem*part@partkey", "lineitem", "l_partkey",
          "part", "p_partkey"),
        audit("lineitem*supplier@suppkey", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        audit("orders*customer@custkey", "orders", "o_custkey",
          "customer", "c_custkey"),
        audit("lineitem*lineitem@partkey", "lineitem", "l_partkey",
          "lineitem", "l_partkey")).mkString("\nUNION ALL\n")}),
       |e AS (
       |  SELECT *, CAST(n_left * n_right AS DOUBLE)
       |              / greatest(ndv_left, ndv_right) AS est_rows
       |  FROM u)
       |SELECT join_edge, n_left, n_right, ndv_left, ndv_right, true_rows,
       |  est_rows, est_rows / CAST(true_rows AS DOUBLE) AS err_ratio
       |FROM e ORDER BY join_edge""".stripMargin
  }

  /** q_v11: SHUFFLE-KEY SKEW report — for each candidate partitioning key
    * the diagnostics that decide the skew mitigation (`Skew.saltedJoin` /
    * AQE skew-join / broadcast): exact NDV, hottest-key row count and
    * share, rows-per-key mean, and the max-partition imbalance of a
    * SIMULATED 32-way hash partitioning (buckets from the cross-engine
    * poly_hash of the key rendered as a string, the c8/c11 mechanism —
    * NOT Spark's Murmur3, which DuckDB cannot replay; the diagnostic
    * quantifies distributional skew, which is partitioner-independent).
    * `hot32_imbalance` = max-partition rows ÷ perfect share; the standing
    * rule of thumb flags a key when the hottest simulated partition
    * exceeds 2× ideal — exactly when a plain hash join starts
    * straggling and the r20 salted join earns its extra exchange.
    *
    * Scale shape, per key: ONE keyed count aggregate over the pruned key
    * column (map-side partials), then every statistic — including the
    * simulated-partition histogram — derives from that O(distinct keys)
    * per-key frame, never from a second base scan. Single divisions of
    * exact integers in fixed order; keys audit independently. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashExpressions.poly_hash
    def audit(keyName: String, table: String, keyCol: String): DataFrame = {
      val perKey = G.table(spark, dir, table)
        .select(col(keyCol).cast("string").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      val buckets = perKey
        .groupBy((poly_hash(col("k")) % 32L).as("b"))
        .agg(sum(col("cnt")).as("rows_in_b"))
        .agg(max(col("rows_in_b")).as("hot32_rows"))
      perKey.agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("ndv"),
          max(col("cnt")).as("top1_rows"))
        .crossJoin(buckets)
        .select(lit(keyName).as("key"), col("n_rows"), col("ndv"),
          col("top1_rows"),
          (col("top1_rows").cast("double") / col("n_rows")).as("top1_share"),
          (col("n_rows").cast("double") / col("ndv")).as("mean_rows_per_key"),
          col("hot32_rows"),
          (col("hot32_rows") * lit(32L)).cast("double")
            .divide(col("n_rows")).as("hot32_imbalance"))
        .withColumn("salt_recommended", col("hot32_imbalance") > 2.0)
    }
    Seq(
      audit("documents.source", "documents", "source"),
      audit("events.user_id", "events", "user_id"),
      audit("lineitem.l_orderkey", "lineitem", "l_orderkey"),
      audit("lineitem.l_partkey", "lineitem", "l_partkey"),
      audit("lineitem.l_suppkey", "lineitem", "l_suppkey"),
      audit("orders.o_custkey", "orders", "o_custkey"))
      .reduce(_.unionByName(_))
      .orderBy(col("key"))
  }

  val skewReportSql: String = {
    // the c8/c11 poly_hash replay, over the key rendered as a string
    def ph(e: String): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(0, length($e)),
         |    i -> CAST(unicode(substr($e, CAST(i+1 AS INT), 1)) AS BIGINT))),
         |  (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin
    def audit(keyName: String, table: String, keyCol: String): String =
      s"""SELECT '$keyName' AS key, n_rows, ndv, top1_rows, hot32_rows
         |FROM (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS ndv,
         |         max(cnt) AS top1_rows
         |  FROM (SELECT CAST($keyCol AS VARCHAR) AS k, count(*) AS cnt
         |        FROM $table GROUP BY 1) pk) s
         |CROSS JOIN (
         |  SELECT max(rows_in_b) AS hot32_rows FROM (
         |    SELECT ${ph("k")} % 32 AS b, CAST(sum(cnt) AS BIGINT) AS rows_in_b
         |    FROM (SELECT CAST($keyCol AS VARCHAR) AS k, count(*) AS cnt
         |          FROM $table GROUP BY 1) pk2
         |    GROUP BY b) bb) h""".stripMargin
    s"""WITH u AS (
       |${Seq(
        audit("documents.source", "documents", "source"),
        audit("events.user_id", "events", "user_id"),
        audit("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        audit("lineitem.l_partkey", "lineitem", "l_partkey"),
        audit("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        audit("orders.o_custkey", "orders", "o_custkey"))
        .mkString("\nUNION ALL\n")})
       |SELECT key, n_rows, ndv, top1_rows,
       |  CAST(top1_rows AS DOUBLE) / n_rows AS top1_share,
       |  CAST(n_rows AS DOUBLE) / ndv AS mean_rows_per_key,
       |  hot32_rows,
       |  CAST(hot32_rows * 32 AS DOUBLE) / n_rows AS hot32_imbalance,
       |  CAST(hot32_rows * 32 AS DOUBLE) / n_rows > 2.0 AS salt_recommended
       |FROM u ORDER BY key""".stripMargin
  }

  /** q_v12: BENFORD first-digit audit over order totals — the classic
    * synthetic-/fabricated-data screen: naturally-occurring monetary
    * amounts follow P(d) = log10(1 + 1/d); a generator that draws uniforms
    * (like this corpus's) or a copy-paste duplication shows up as a flat
    * digit histogram. Reported per digit: observed count/share, the Benford
    * expectation, the observed/expected ratio, and a ±25 % deviation flag.
    *
    * Exactness rules: the first significant digit comes from the BIGINT
    * floor rendered as a string (both engines print integers identically —
    * never DECIMAL/DOUBLE formatting); the Benford expectations are FIXED
    * LITERALS in both query texts (the only way to keep log10 out of the
    * runtime — the g7 no-transcendentals rule); shares and ratios are
    * single divisions. No global chi² scalar BY DESIGN: a 9-term float sum
    * has no cross-engine evaluation order, per-digit rows do. One keyed
    * count agg on a 9-value key = one tiny exchange at any scale. */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    val exp = benfordExpected.map { case (d, p) =>
      s"WHEN $d THEN ${p}E0"
    }.mkString("CASE digit ", " ", " END")
    // floor() BEFORE the bigint cast: DuckDB's DOUBLE->BIGINT cast rounds
    // while Spark's truncates — floor makes both exact and identical
    val o = G.table(spark, dir, "orders")
      .filter(col("o_totalprice") >= 1)
      .select(substring(floor(col("o_totalprice")).cast("bigint")
        .cast("string"), 1, 1).cast("int").as("digit"))
    val n = o.groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
    // normalizer via an O(9)-row unpartitioned window over the AGGREGATED
    // frame (not a self-join, which would scan orders twice)
    n.withColumn("n_total",
        sum(col("n_orders")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("share", col("n_orders").cast("double") / col("n_total"))
      .withColumn("benford_p", expr(exp))
      .withColumn("ratio", col("share") / col("benford_p"))
      .withColumn("flag_deviant",
        col("ratio") > 1.25 || col("ratio") < 0.75)
      .select(col("digit"), col("n_orders"), col("share"), col("benford_p"),
        col("ratio"), col("flag_deviant"))
      .orderBy(col("digit"))
  }

  /** log10(1 + 1/d) for d = 1..9, pre-evaluated to double literals shared
    * verbatim by the Spark expression and the DuckDB oracle text. */
  private val benfordExpected: Seq[(Int, String)] = Seq(
    1 -> "0.30102999566398120", 2 -> "0.17609125905568124",
    3 -> "0.12493873660829993", 4 -> "0.09691001300805642",
    5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
    7 -> "0.05799194697768673", 8 -> "0.05115252244738129",
    9 -> "0.04575749056067514")

  /** q_v13: CROSS-TABLE CONSISTENCY audit — does the denormalized header
    * total equal the recomputed detail total? The classic reconciliation
    * check between a fact table and its rollup (here: o_totalprice vs
    * Σ l_extendedprice·(1−disc)·(1+tax) per order), run per order-status
    * with headers-without-details counted separately (referential gaps are
    * v9's job; VALUE drift is this one's). On this synthetic corpus the
    * booked totals do NOT reconcile — the audit reports that honestly;
    * the check's value is the exact per-status counts and totals.
    *
    * Exactness: per-order detail sums and per-status totals both go
    * through DECIMAL(38,6) (the G.dsum contract) so chained float sums
    * hash-match; the tolerance test compares \|booked − computed\| to
    * 0.1 % of booked with both sides single IEEE ops. One keyed agg over
    * lineitem + one broadcast-or-hash join + one 3-key agg. */
  def orderConsistency(spark: SparkSession, dir: String): DataFrame = {
    val per = G.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).as("line_val"))
      .groupBy(col("o_orderkey"))
      .agg(G.dsum(col("line_val")).as("computed"),
        count(lit(1)).as("n_lines"))
    G.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .join(per, Seq("o_orderkey"), "left")
      .withColumn("has_lines", col("n_lines").isNotNull)
      .withColumn("consistent", col("has_lines") &&
        abs(col("o_totalprice") - col("computed")) <=
          col("o_totalprice") * 0.001)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(!col("has_lines"), 1L).otherwise(0L)).as("n_no_lines"),
        sum(when(col("has_lines") && !col("consistent"), 1L).otherwise(0L))
          .as("n_mismatch"),
        G.dsum(col("o_totalprice")).as("booked_total"),
        G.dsum(coalesce(col("computed"), lit(0.0))).as("computed_total"))
      .orderBy(col("o_orderstatus"))
  }

  val orderConsistencySql: String =
    """WITH per AS (
      |  SELECT l_orderkey AS o_orderkey,
      |    CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
      |      AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS computed,
      |    count(*) AS n_lines
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o.o_orderstatus, o.o_totalprice, per.computed,
      |    per.n_lines IS NOT NULL AS has_lines,
      |    per.n_lines IS NOT NULL AND
      |      abs(o.o_totalprice - per.computed) <= o.o_totalprice * 0.001
      |      AS consistent
      |  FROM orders o LEFT JOIN per ON per.o_orderkey = o.o_orderkey)
      |SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CASE WHEN NOT has_lines THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_no_lines,
      |  CAST(sum(CASE WHEN has_lines AND NOT consistent THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_mismatch,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR)
      |    AS DOUBLE) AS booked_total,
      |  CAST(CAST(SUM(CAST(coalesce(computed, 0.0) AS DECIMAL(38,6)))
      |    AS VARCHAR) AS DOUBLE) AS computed_total
      |FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val benfordSql: String = {
    val exp = benfordExpected.map { case (d, p) =>
      s"WHEN $d THEN ${p}E0"
    }.mkString("CASE digit ", " ", " END")
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
       |    AS VARCHAR), 1, 1) AS INT) AS digit
       |  FROM orders WHERE o_totalprice >= 1),
       |n AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY digit),
       |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total FROM n),
       |r AS (
       |  SELECT digit, n_orders,
       |    CAST(n_orders AS DOUBLE) / n_total AS share,
       |    $exp AS benford_p
       |  FROM n CROSS JOIN t)
       |SELECT digit, n_orders, share, benford_p,
       |  share / benford_p AS ratio,
       |  share / benford_p > 1.25 OR share / benford_p < 0.75 AS flag_deviant
       |FROM r ORDER BY digit""".stripMargin
  }

  /** q_v14: K-ANONYMITY audit over the (nation, market-segment)
    * quasi-identifier — the re-identification risk check a governed corpus
    * release runs before publishing: every equivalence class with its
    * member count, a risky flag (class smaller than 10), and the dataset's
    * k (the global minimum class size, the number the privacy budget
    * quotes). One keyed aggregation; the global k joins back as a broadcast
    * one-row frame rather than a single-partition window, so the plan stays
    * flat at any class-count scale. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val classes = G.table(spark, dir, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_members"))
    val k = classes.agg(min(col("n_members")).as("k_anonymity"))
    classes.join(broadcast(k))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n_members"),
        (col("n_members") < 10).as("risky"), col("k_anonymity"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  val kAnonymitySql: String =
    """WITH classes AS (
      |  SELECT c_nationkey, c_mktsegment, count(*) AS n_members
      |  FROM customer GROUP BY c_nationkey, c_mktsegment),
      |k AS (SELECT min(n_members) AS k_anonymity FROM classes)
      |SELECT c_nationkey, c_mktsegment, n_members,
      |  n_members < 10 AS risky, k_anonymity
      |FROM classes CROSS JOIN k
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin
}
