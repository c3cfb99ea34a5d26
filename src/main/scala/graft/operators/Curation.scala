package graft.operators

import graft.G
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the end-to-end "assemble a training set"
  * surface over `documents` (BASELINE north-star; additive to the reference,
  * which stops at dashboards — `docs/05-clickhouse-grafana.md`).
  *
  * Everything here is deterministic and engine-reproducible by construction:
  * sampling is content-hash-based (md5 prefix), never `rand()`, so a 100 TB
  * corpus re-sampled on a different cluster (or a different engine) selects
  * the same documents — the property training-data pipelines need for
  * reproducible ablations.
  *
  * Scale shapes:
  *  - `hashSample` / `chunk` are pure projections — scan-speed, shuffle-free.
  *  - `sourceCaps` shuffles once on `source` ([[G.topK]]).
  *  - `bigramStats` is explode → partial/final hash-agg (map-side combine
  *    absorbs the explode factor) → TakeOrderedAndProject top-k, so the
  *    driver never sees more than k rows.
  *  - `curationPipeline` composes filter → window-dedup (one shuffle on the
  *    content digest) → hash-sample → per-source agg (one more shuffle, 20
  *    groups).
  */
object Curation {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    G.table(spark, dir, "documents")

  /** (doc_id, text) — replay staging for the streaming heavy hitters. */
  private[graft] def docTexts(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), col("text"))

  /** Deterministic ~7.8% corpus sample: keep documents whose md5(text) starts
    * below 0x14 (20/256 two-hex-digit buckets). Content-addressed sampling is
    * stable under repartitioning, re-runs, and engine swaps, unlike
    * `TABLESAMPLE`/`rand()`; the filter is a codegen'd projection that
    * reaches every scan at full speed. */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("bucket", substring(md5(col("text")), 1, 2))
      .filter(col("bucket") < "14")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("bucket"))
      .orderBy(col("doc_id"))

  val hashSampleSql: String =
    """SELECT doc_id, lang, source, n_chars, substr(md5(text), 1, 2) AS bucket
      |FROM documents
      |WHERE substr(md5(text), 1, 2) < '14'
      |ORDER BY doc_id""".stripMargin

  /** Per-source document cap: keep the k longest documents per source
    * (deterministic `doc_id` tiebreak) — the standard per-domain quota that
    * stops one crawl domain from dominating a training mix: [[G.topK]],
    * one shuffle on `source`. */
  def sourceCaps(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    G.topK(docs(spark, dir), Seq(col("source")),
        Seq(col("n_chars").desc, col("doc_id")), k, "rnk")
      .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rnk"))
  }

  val sourceCapsSql: String =
    """SELECT source, rnk, doc_id, n_chars FROM (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rnk
      |  FROM documents) t
      |WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin

  /** Fixed-width overlapping chunking: 120-char windows every 100 chars
    * (20-char overlap) — the pre-tokenization split that turns documents
    * into model-sized training rows. Narrow transform (explode of a
    * per-row `sequence`), shuffle-free; the explode factor is bounded by
    * `n_chars / stride`, so output size is a fixed multiple of input size
    * at any scale. */
  def chunk(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      // stride 100: starts at 0, 100, 200, ... while < n_chars
      .withColumn("chunk_start",
        explode(expr("sequence(0L, greatest(n_chars - 1L, 0L), 100L)")))
      .select(col("doc_id"),
        expr("chunk_start DIV 100").as("chunk_id"),
        col("chunk_start"),
        expr("substring(text, CAST(chunk_start + 1 AS INT), 120)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("long"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val chunkSql: String =
    """SELECT doc_id, chunk_start // 100 AS chunk_id, chunk_start,
      |  substr(text, CAST(chunk_start + 1 AS INT), 120) AS chunk,
      |  length(substr(text, CAST(chunk_start + 1 AS INT), 120)) AS chunk_len
      |FROM (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0, greatest(n_chars - 1, 0), 100)) AS chunk_start
      |  FROM documents)
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** Corpus-level bigram frequencies, top 50 — the n-gram census used for
    * frequency pruning and benchmark-contamination screens. Explode of
    * adjacent token pairs → two-phase hash-agg (map-side combine collapses
    * the explode before the single shuffle) → `TakeOrderedAndProject`, so
    * only 50 rows ever reach the driver. Total order (cnt DESC, bigram)
    * makes the cut line deterministic. */
  def bigramStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .withColumn("bigram", explode(expr(
        """CASE WHEN size(toks) >= 2
          |  THEN transform(sequence(1, size(toks) - 1),
          |         i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
          |  ELSE array() END""".stripMargin)))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(50)

  val bigramStatsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |bi AS (
      |  SELECT unnest(list_transform(range(1, len(t)),
      |           i -> t[i] || ' ' || t[i + 1])) AS bigram
      |  FROM toks WHERE len(t) >= 2)
      |SELECT bigram, count(*) AS cnt FROM bi
      |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50""".stripMargin

  /** q_c13: heavy hitters over the SAME bigram stream as [[bigramStats]],
    * but through the [[graft.functions.SpaceSaving]] mergeable sketch
    * instead of an exact hash-agg — the production shape when the key
    * domain no longer fits an aggregation hash table (URL hosts, n-grams at
    * web scale). Bounded O(capacity) state per partition, O(capacity ×
    * partitions) shuffle, versus the exact plan's O(distinct keys).
    *
    * Rows-only by declared design (estimates depend on partition merge
    * order); `q_c4_bigram_stats` is the oracle-checked deterministic twin
    * over the identical stream, and Round6bOpsSpec pins the sketch bounds
    * (`cnt_est - err <= true <= cnt_est`, heavy-item recall) against the
    * exact counts. */
  /** q_c14: Count-Min point-frequency estimates over the same bigram
    * stream, via Spark's built-in `count_min_sketch` aggregate (width
    * 2e/eps, depth ln(1/(1-conf)) — Cormode/Muthukrishnan). The sketch
    * merges cell-wise (order-independent addition), so with a fixed seed
    * the estimates are DETERMINISTIC under any partitioning — unlike
    * SpaceSaving ([[heavyHitters]]) whose estimates depend on merge order.
    * No DuckDB CMS exists, so the query stays rows-only; the exact `cnt`
    * column (the q_c4 twin stream) rides along in the output, and the CMS
    * overestimate contract `cnt <= cnt_est <= cnt + eps·N` is pinned in
    * Round6bOpsSpec.
    *
    * Scale shape: one pass, one tiny binary partial per partition (the
    * sketch), merged on the driver; the probe set (exact top-k) is
    * k rows. The collect is the SKETCH, never the stream. */
  def cmsCounts(spark: SparkSession, dir: String,
      eps: Double = 0.001, k: Int = 50): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val skBytes = bigramStream(spark, dir)
      .agg(expr(s"count_min_sketch(bigram, ${eps}d, 0.99d, 42)").as("sk"))
      .head().getAs[Array[Byte]](0)
    val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(skBytes))
    val top = bigramStats(spark, dir).limit(k).collect()
      .map(r => (r.getString(0), r.getLong(1),
        cms.estimateCount(r.getString(0))))
    import spark.implicits._
    top.toSeq.toDF("bigram", "cnt", "cnt_est")
      .orderBy(col("cnt").desc, col("bigram"))
  }

  /** The shared explode of adjacent token pairs behind [[bigramStats]],
    * [[heavyHitters]] and [[cmsCounts]]. */
  private def bigramStream(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .withColumn("bigram", explode(expr(
        """CASE WHEN size(toks) >= 2
          |  THEN transform(sequence(1, size(toks) - 1),
          |         i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
          |  ELSE array() END""".stripMargin)))

  def heavyHitters(spark: SparkSession, dir: String,
      capacity: Int = 256, k: Int = 50): DataFrame = {
    val ss = udaf(new graft.functions.SpaceSaving.Agg(capacity))
    docs(spark, dir)
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .withColumn("bigram", explode(expr(
        """CASE WHEN size(toks) >= 2
          |  THEN transform(sequence(1, size(toks) - 1),
          |         i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
          |  ELSE array() END""".stripMargin)))
      .agg(ss(col("bigram")).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.bigram").as("bigram"), col("h.cnt_est").as("cnt_est"),
        col("h.err").as("err"))
      .orderBy(col("cnt_est").desc, col("bigram"))
      .limit(k)
  }

  /** Benchmark decontamination screen: flag corpus documents sharing any
    * word-5-gram with a held-out benchmark set (here: every 97th doc stands
    * in for the eval set). The standard pretraining hygiene step. Scale
    * shape: the benchmark's distinct n-gram set is small → broadcast; the
    * corpus side explodes to n-grams and inner-joins the broadcast set, so
    * the corpus is never shuffled — contamination counting happens in the
    * map-side-combined aggregate on (doc_id). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val gram5 = (df: DataFrame) => df
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(toks) - 4),
          |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1),
          |         element_at(toks, i+2), element_at(toks, i+3),
          |         element_at(toks, i+4))))""".stripMargin)).as("gram"))
    val d = docs(spark, dir)
    val benchGrams = gram5(d.filter(col("doc_id") % 97 === 0))
      .select(col("gram")).distinct()
    gram5(d.filter(col("doc_id") % 97 =!= 0))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_grams"))
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(t) - 3),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
      |           || ' ' || t[i+4]))) AS gram
      |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      |        FROM documents)
      |  WHERE len(t) >= 5),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
      |SELECT g.doc_id, count(*) AS n_contaminated_grams
      |FROM g JOIN bench USING (gram)
      |WHERE g.doc_id % 97 <> 0
      |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin

  /** Shard packing: assign documents to fixed-token-budget training shards
    * by running token count, parallel per source (global packing would be a
    * single-partition window — per-source packing keeps the window
    * partitioned and is what a sharded writer wants anyway). Deterministic:
    * docs ordered by doc_id within source; shard boundary when the running
    * count before the doc crosses a 2000-token budget multiple. */
  def packShards(spark: SparkSession, dir: String, budget: Long = 2000L): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(spark, dir)
      .withColumn("n_tokens", expr("size(split(text, '\\\\s+'))").cast("long"))
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr(s"tokens_before DIV $budget").as("shard_id"))
      .orderBy(col("source"), col("doc_id"))
  }

  val packShardsSql: String =
    """SELECT source, doc_id, n_tokens,
      |  tokens_before // 2000 AS shard_id
      |FROM (
      |  SELECT source, doc_id,
      |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
      |    CAST(coalesce(SUM(len(string_split_regex(text, '\s+')))
      |      OVER (PARTITION BY source ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS tokens_before
      |  FROM documents) t
      |ORDER BY source, doc_id""".stripMargin

  /** Sequence packing: greedily pack documents (in doc_id order) into
    * fixed-capacity training examples — the "pack to 2048-token sequences"
    * step of every pretraining data pipeline. Unlike c7's running-sum
    * shard assignment (where a doc may straddle a budget boundary),
    * packing RESETS at each example boundary: a doc never splits, so the
    * running state is a true sequential recurrence no window frame can
    * express (the reset makes each row's example depend on every prior
    * row's placement). Scale shape: the recurrence runs inside bounded
    * 64-doc shards via flatMapGroups — embarrassingly parallel ACROSS
    * shards (the 100 TB axis, same reason c7 packs per source), strictly
    * sequential only within one shard, and the shuffle carries
    * (doc_id, shard, n_tokens) — never text. A doc longer than the
    * capacity gets its own (overflowing) example, the standard rule.
    * Oracle: a per-shard recursive CTE replaying the identical fold. */
  def seqPack(spark: SparkSession, dir: String, capacity: Long = 512L): DataFrame =
    seqPackOn(docs(spark, dir), capacity).orderBy(col("doc_id"))

  /** The packing stage on any (doc_id, text) frame — shared by the query
    * and the Stress ladder. */
  private[graft] def seqPackOn(docsDf: DataFrame, capacity: Long): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    packSized(docsDf
      .select(col("doc_id"), expr("doc_id DIV 64").as("shard"),
        expr("size(split(text, '\\\\s+'))").cast("long").as("n_tokens"))
      .as[(Long, Long, Long)], capacity)
  }

  /** The capacity-reset greedy fold on an already-SIZED
    * (doc_id, shard, n_tokens) frame — the packer itself, independent of
    * how token cost was computed (c17 sizes by text tokens; m13 adds the
    * per-image patch cost). */
  private[graft] def packSized(
      t: org.apache.spark.sql.Dataset[(Long, Long, Long)],
      capacity: Long): DataFrame = {
    val spark = t.sparkSession
    import spark.implicits._
    t.groupByKey(_._2)
      .flatMapGroups { (shard: Long, it: Iterator[(Long, Long, Long)]) =>
        val ds = it.toArray.sortBy(_._1)
        val out = new scala.collection.mutable.ArrayBuffer[
          (Long, Long, Long, Long, Long)](ds.length)
        var ex = 0L
        var cur = 0L
        var i = 0
        while (i < ds.length) {
          val (id, _, n) = ds(i)
          if (i == 0) { cur = n; out += ((id, shard, 0L, 0L, n)) }
          else if (cur + n > capacity) {
            ex += 1; cur = n; out += ((id, shard, ex, 0L, n))
          } else { out += ((id, shard, ex, cur, n)); cur += n }
          i += 1
        }
        out.iterator
      }
      .toDF("doc_id", "shard", "ex_id", "ex_offset", "n_tokens")
  }

  /** Shared WITH-prefix of the packing oracles: the per-shard capacity-
    * reset fold ending in `p(shard, rn, doc_id, n, ex_id, ex_offset)`. */
  /** The recursive-fold oracle of [[packSized]], parameterized on the SQL
    * expression computing each document's token cost (and the example
    * capacity) — c17 instantiates it with plain text tokens, m13 with
    * text + per-image patch cost. */
  private[graft] def seqPackCtesFor(nExpr: String,
      capacity: Long = 512L): String =
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, doc_id // 64 AS shard,
       |    $nExpr AS n,
       |    row_number() OVER (PARTITION BY doc_id // 64 ORDER BY doc_id) AS rn
       |  FROM documents),
       |p AS (
       |  SELECT shard, rn, doc_id, n,
       |    CAST(0 AS BIGINT) AS ex_id, CAST(0 AS BIGINT) AS ex_offset, n AS cur
       |  FROM t WHERE rn = 1
       |  UNION ALL
       |  SELECT t.shard, t.rn, t.doc_id, t.n,
       |    CASE WHEN p.cur + t.n > $capacity THEN p.ex_id + 1 ELSE p.ex_id END,
       |    CASE WHEN p.cur + t.n > $capacity THEN CAST(0 AS BIGINT) ELSE p.cur END,
       |    CASE WHEN p.cur + t.n > $capacity THEN t.n ELSE p.cur + t.n END
       |  FROM p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)""".stripMargin

  private val seqPackCtes: String = seqPackCtesFor(
    "CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)")

  val seqPackSql: String = seqPackCtes +
    """
      |SELECT doc_id, shard, ex_id, ex_offset, n AS n_tokens
      |FROM p ORDER BY doc_id""".stripMargin

  /** q_c28: PACKING LINEAGE — the provenance audit over [[seqPack]]'s
    * training examples: for every (shard, example) emitted by the packer,
    * which documents landed in it, how full it is, and how mixed its
    * sources are. This is the artifact a training run's data-governance
    * side needs (data cards, per-source attribution, deletion-request
    * lookup = "which examples contain doc X" — this table inverted), and
    * it closes the loop on c17: the packer's output joined BACK to the
    * catalog instead of trusted blindly.
    *
    * Plan: the c17 fold (bounded 64-doc shards, parallel across shards)
    * plus ONE doc_id-keyed broadcast-or-hash join to the doc catalog and
    * ONE (shard, ex_id)-keyed aggregate — both O(docs), text untouched.
    * fill_ratio is a single division of exact integers. */
  def packLineage(spark: SparkSession, dir: String): DataFrame = {
    val packed = seqPackOn(docs(spark, dir), 512L)
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    packed.join(src, "doc_id")
      .groupBy(col("shard"), col("ex_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("tokens_used"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("fill_ratio", col("tokens_used").cast("double") / 512.0)
      .select(col("shard"), col("ex_id"), col("n_docs"), col("tokens_used"),
        col("fill_ratio"), col("n_sources"), col("first_doc"), col("last_doc"))
      .orderBy(col("shard"), col("ex_id"))
  }

  val packLineageSql: String = seqPackCtes +
    """
      |SELECT p.shard, p.ex_id, count(*) AS n_docs,
      |  CAST(sum(p.n) AS BIGINT) AS tokens_used,
      |  CAST(CAST(sum(p.n) AS BIGINT) AS DOUBLE) / 512.0 AS fill_ratio,
      |  count(DISTINCT d.source) AS n_sources,
      |  min(p.doc_id) AS first_doc, max(p.doc_id) AS last_doc
      |FROM p JOIN documents d ON d.doc_id = p.doc_id
      |GROUP BY p.shard, p.ex_id
      |ORDER BY p.shard, p.ex_id""".stripMargin

  /** Corpus mix rebalancing: subsample each language down to the smallest
    * language's token total (the "equal mix" target), choosing survivors by
    * content fingerprint — not rand() — so the rebalanced corpus is
    * reproducible on any engine or cluster. Two passes over metadata only:
    * per-lang token totals (tiny, broadcast back), then a scan-side
    * `bucket < threshold` filter; the text never shuffles. Thresholds are
    * integer (floor(rate·10000)), so the oracle comparison is exact. */
  def mixRebalance(spark: SparkSession, dir: String): DataFrame = {
    // fully declarative since round 2's PolyHash expression: token count and
    // sampling bucket are codegen'd projections — no object boundary
    val d = docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr("CAST(size(split(text, '\\\\s+')) AS BIGINT)").as("n_tokens"),
        (graft.functions.HashExpressions.poly_hash(col("text")) % 10000L)
          .as("bucket"))
    val tot = d.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).cast("long").as("total"))
    val target = tot.agg(min(col("total")).as("target"))
    val thr = tot.crossJoin(broadcast(target))
      .withColumn("threshold",
        floor(col("target").cast("double") / col("total") * 10000.0).cast("long"))
      .select(col("lang"), col("threshold"))
    d.join(broadcast(thr), "lang")
      .filter(col("bucket") < col("threshold"))
      .groupBy(col("lang"), col("threshold"))
      .agg(count(lit(1)).as("kept_docs"),
        sum(col("n_tokens")).cast("long").as("kept_tokens"))
      .orderBy(col("lang"))
  }

  val mixRebalanceSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, length(text)),
      |        i -> CAST(unicode(substr(text, CAST(i+1 AS INT), 1)) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) % 10000 AS bucket
      |  FROM documents),
      |tot AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS total FROM d GROUP BY lang),
      |tgt AS (SELECT min(total) AS target FROM tot),
      |thr AS (
      |  SELECT lang,
      |    CAST(floor(CAST(target AS DOUBLE) / total * 10000.0) AS BIGINT) AS threshold
      |  FROM tot, tgt)
      |SELECT d.lang, thr.threshold, count(*) AS kept_docs,
      |  CAST(SUM(d.n_tokens) AS BIGINT) AS kept_tokens
      |FROM d JOIN thr ON d.lang = thr.lang
      |WHERE d.bucket < thr.threshold
      |GROUP BY d.lang, thr.threshold ORDER BY d.lang""".stripMargin

  /** q_c19: temperature-based mixture resampling — the multilingual/
    * multi-source mixing rule (weight ∝ count^α, here α = 0.5) that
    * upsamples small sources relative to their raw share. Per-source
    * targets are `ceil(K · √n_s / Σ√n)` capped at n_s, and the documents
    * kept are the first `target` in content-hash order (md5), so the
    * sample is stable under repartitioning and re-runs like every other
    * sampler here.
    *
    * Cross-engine exactness: √n is correctly-rounded IEEE on both engines,
    * and the normalizer Σ√n is summed via DECIMAL(38,9) (G.dsum) so its
    * value is order-independent — `pow(n, α)` for general α is NOT exactly
    * rounded and would not replay bit-for-bit, which is why the checked
    * variant pins α = 0.5. Plan shape: the per-source stats and the scalar
    * normalizer are broadcast; the only full-corpus work is one window
    * sort per source on (md5, doc_id) — the same top-k-per-group shape as
    * sourceCaps, except the k is data-dependent so WindowGroupLimit cannot
    * pre-prune. */
  def temperatureMix(spark: SparkSession, dir: String, k: Int = 300): DataFrame = {
    val d = docs(spark, dir)
    val stats = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val z = stats.agg(G.dsum(sqrt(col("n").cast("double")), 9).as("zsum"))
    val t = stats.crossJoin(broadcast(z))
      .withColumn("share", sqrt(col("n").cast("double")) / col("zsum"))
      .withColumn("target", least(col("n"), ceil(lit(k.toDouble) * col("share"))))
      .select(col("source"), col("target"), col("share"))
    d.select(col("source"), col("doc_id"), col("text"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(md5(col("text")), col("doc_id"))))
      .join(broadcast(t), "source")
      .filter(col("rk") <= col("target"))
      .select(col("source"), col("doc_id"), col("rk").cast("long").as("rk"),
        col("target"), col("share"))
      .orderBy(col("source"), col("rk"))
  }

  val temperatureMixSql: String =
    """WITH stats AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |z AS (SELECT CAST(SUM(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(38,9)))
      |             AS DOUBLE) AS zsum FROM stats),
      |t AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) / zsum AS share,
      |        least(n, CAST(ceil(300.0 * sqrt(CAST(n AS DOUBLE)) / zsum)
      |                 AS BIGINT)) AS target
      |      FROM stats, z),
      |r AS (SELECT source, doc_id,
      |        row_number() OVER (PARTITION BY source
      |          ORDER BY md5(text), doc_id) AS rk
      |      FROM documents)
      |SELECT r.source, r.doc_id, CAST(r.rk AS BIGINT) AS rk, t.target, t.share
      |FROM r JOIN t USING (source) WHERE r.rk <= t.target
      |ORDER BY r.source, r.rk""".stripMargin

  /** q_c20: quality-decile report — documents bucketed into deciles of the
    * t2 quality score, with per-decile stats. The scalable shape for "keep
    * the top 30% by quality": decile BOUNDARIES come from one global
    * order-statistic aggregate (percentile_disc, the exact a10 path —
    * switchable to approx_percentile at corpus scale), get broadcast as a
    * single row, and every document is assigned by nine comparisons in a
    * codegen'd projection. No ntile, no global sort of the corpus — the
    * only full-data pass after scoring is one hash-agg keyed by decile.
    * Ties land in the lower decile (strict >), identical in DuckDB. */
  def qualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"))
      .createOrReplaceTempView("q_scored_docs")
    val bs = (1 to 9).map(i =>
      s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY quality_score) AS b$i")
      .mkString(", ")
    val cases = (1 to 9).map(i =>
      s"CASE WHEN quality_score > b$i THEN 1 ELSE 0 END").mkString(" + ")
    spark.sql(
      s"""WITH b AS (SELECT $bs FROM q_scored_docs)
         |SELECT decile, count(*) AS n_docs,
         |  min(quality_score) AS min_score, max(quality_score) AS max_score,
         |  CAST(SUM(CAST(quality_score AS DECIMAL(38,9))) AS DOUBLE)
         |    / count(*) AS avg_score
         |FROM (
         |  SELECT quality_score, 1 + $cases AS decile
         |  FROM q_scored_docs CROSS JOIN b) t
         |GROUP BY decile ORDER BY decile""".stripMargin)
  }

  val qualityDecilesSql: String = {
    val scored = TextAnalysis.qualityScoreSql.stripSuffix("ORDER BY doc_id")
    val bs = (1 to 9).map(i =>
      s"quantile_disc(quality_score, 0.$i) AS b$i").mkString(", ")
    val cases = (1 to 9).map(i =>
      s"CASE WHEN quality_score > b$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH q AS ($scored),
       |b AS (SELECT $bs FROM q)
       |SELECT decile, count(*) AS n_docs,
       |  min(quality_score) AS min_score, max(quality_score) AS max_score,
       |  CAST(CAST(SUM(CAST(quality_score AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE)
       |    / count(*) AS avg_score
       |FROM (
       |  SELECT quality_score, 1 + $cases AS decile
       |  FROM q CROSS JOIN b) t
       |GROUP BY decile ORDER BY decile""".stripMargin
  }

  /** The flagship composite: language filter → quality gate → exact
    * content-dedup (keep lowest doc_id per md5 digest) → deterministic 50%
    * hash-sample → per-source corpus stats. This is the whole curation
    * funnel as ONE declarative plan: Catalyst pushes the lang/quality
    * filters to the scan, the dedup window shuffles on the digest once, and
    * the final agg sees only survivors. Token totals cast to BIGINT on both
    * sides (DuckDB integer SUM is HUGEINT — driver-compare invariant). */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir)
      .withColumn("n_tokens", expr("size(split(text, '\\\\s+'))"))
      .withColumn("n_punct", expr("length(regexp_replace(text, '[^.,;:!?]', ''))"))
      .withColumn("n_stop", expr(
        "size(filter(split(lower(text), '\\\\s+'), w -> w = 'the' OR w = 'a' OR w = 'and' OR w = 'of' OR w = 'to'))"))
      .withColumn("quality_score",
        least(col("n_tokens").cast("double") / 50.0, lit(1.0)) * 0.4
          + (lit(1.0) - least(col("n_punct").cast("double")
              / greatest(length(col("text")), lit(1)) * 10.0, lit(1.0))) * 0.3
          + least(col("n_stop").cast("double")
              / greatest(col("n_tokens"), lit(1)) * 5.0, lit(1.0)) * 0.3)
      .filter(col("lang") === "en" && col("quality_score") >= 0.5
        && col("n_tokens") >= 10)
      .withColumn("digest", md5(col("text")))
    val deduped = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("digest")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .filter(substring(col("digest"), 3, 2) < "80") // deterministic 50%
    deduped
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        G.dsum(col("quality_score")).as("quality_sum"))
      .orderBy(col("source"))
  }

  val curationPipelineSql: String =
    """WITH scored AS (
      |  SELECT doc_id, source, text,
      |    len(string_split_regex(text, '\s+')) AS n_tokens,
      |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
      |    len(list_filter(string_split_regex(lower(text), '\s+'),
      |        w -> w = 'the' OR w = 'a' OR w = 'and' OR w = 'of' OR w = 'to')) AS n_stop,
      |    md5(text) AS digest
      |  FROM documents WHERE lang = 'en'),
      |q AS (
      |  SELECT *,
      |    least(CAST(n_tokens AS DOUBLE) / 50.0, CAST(1.0 AS DOUBLE)) * 0.4
      |      + (CAST(1.0 AS DOUBLE) - least(CAST(n_punct AS DOUBLE) / greatest(length(text), 1) * 10.0, CAST(1.0 AS DOUBLE))) * 0.3
      |      + least(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) * 5.0, CAST(1.0 AS DOUBLE)) * 0.3 AS quality_score
      |  FROM scored),
      |kept AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
      |    FROM q WHERE quality_score >= 0.5 AND n_tokens >= 10) t
      |  WHERE rn = 1 AND substr(digest, 3, 2) < '80')
      |SELECT source, count(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(CAST(SUM(CAST(quality_score AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS quality_sum
      |FROM kept GROUP BY source ORDER BY source""".stripMargin

  /** Stratified (per-source) hash sampling to a fixed expected document
    * budget per stratum: each source's keep-rate is `target / count(source)`
    * and a document survives iff `poly_hash(doc_id) % 10000` falls under
    * that stratum's threshold. Unlike [[sourceCaps]] (top-k by length) the
    * selection is content-blind and rate-proportional, and unlike
    * [[mixRebalance]] (token-budget per language) it emits the surviving
    * ROWS — the reproducible "flatten the source mix" primitive.
    *
    * Scale shape: one count-agg over source (tiny result), broadcast back
    * onto the scan as a hash-threshold filter — the corpus itself is never
    * shuffled, so at 100 TB this is a scan + broadcast-join filter. */
  def stratifiedSample(spark: SparkSession, dir: String, target: Int = 10)
      : DataFrame = {
    val d = docs(spark, dir).withColumn("bucket",
      graft.functions.HashExpressions.poly_hash(
        col("doc_id").cast("string")) % 10000L)
    val thr = d.groupBy(col("source"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("threshold",
        least(lit(10000L), floor(lit(10000.0) * target / col("cnt"))
          .cast("long")))
      .select(col("source"), col("threshold"))
    d.join(broadcast(thr), Seq("source"))
      .filter(col("bucket") < col("threshold"))
      .select(col("source"), col("doc_id"), col("bucket"), col("threshold"))
      .orderBy(col("source"), col("doc_id"))
  }

  val stratifiedSampleSql: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, length(CAST(doc_id AS VARCHAR))),
      |        i -> CAST(unicode(substr(CAST(doc_id AS VARCHAR),
      |               CAST(i+1 AS INT), 1)) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) % 10000 AS bucket
      |  FROM documents),
      |thr AS (
      |  SELECT source,
      |    least(CAST(10000 AS BIGINT),
      |      CAST(floor(10000.0 * 10 / count(*)) AS BIGINT)) AS threshold
      |  FROM d GROUP BY source)
      |SELECT d.source, d.doc_id, d.bucket, thr.threshold
      |FROM d JOIN thr ON d.source = thr.source
      |WHERE d.bucket < thr.threshold
      |ORDER BY d.source, d.doc_id""".stripMargin

  /** c11: weight-proportional Bernoulli sampling — each document is kept
    * with probability ∝ its weight (here the length-derived quality proxy
    * min(1, n_chars/2000)), decided purely from a content-free hash of its
    * id. This is the sampler that REPLACES reservoir/exact weighted
    * sampling at 100 TB: no global pass, no driver state, no sort — one
    * scan-local predicate per row (expected kept mass ∝ total weight, the
    * property training-mix builders actually need), deterministic under
    * re-partitioning and re-runs. Same poly_hash‰10000 bucket mechanism as
    * c9, so the DuckDB replay is exact: the per-row threshold
    * floor(10000·p) is integer arithmetic on both engines. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .withColumn("bucket",
        graft.functions.HashExpressions.poly_hash(
          col("doc_id").cast("string")) % 10000L)
      .withColumn("threshold",
        floor(lit(10000.0) *
          least(lit(1.0), col("n_chars").cast("double") / lit(2000.0)))
          .cast("long"))
      .filter(col("bucket") < col("threshold"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("bucket"), col("threshold"))
      .orderBy(col("doc_id"))
  }

  val weightedSampleSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, length(CAST(doc_id AS VARCHAR))),
      |        i -> CAST(unicode(substr(CAST(doc_id AS VARCHAR),
      |               CAST(i+1 AS INT), 1)) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007) % 10000 AS bucket,
      |    CAST(floor(10000.0 *
      |      least(1.0, CAST(n_chars AS DOUBLE) / 2000.0)) AS BIGINT)
      |      AS threshold
      |  FROM documents)
      |SELECT doc_id, source, n_chars, bucket, threshold
      |FROM d WHERE bucket < threshold
      |ORDER BY doc_id""".stripMargin

  /** c12: FUZZY benchmark decontamination — near-duplicate (not just
    * exact-n-gram, as [[decontaminate]]) matches between the training
    * corpus and a benchmark set, via MinHash+LSH banding with exact-Jaccard
    * verification. The benchmark here is planted: every 53rd doc, first
    * token dropped, re-keyed +3000000 — a realistic "benchmark rephrases
    * the training doc" contamination that exact 5-gram matching can also
    * see but paraphrase-style perturbations would evade.
    *
    * Scale shape: signatures are ONE tight-JVM pass over train ∪ bench
    * ([[Dedup.minhashPolyStage]], cached — its two consumers are the band
    * join and the shingle verify); the benchmark side of the candidate
    * join is BROADCAST (a benchmark is always tiny next to a 100 TB
    * corpus), so the training corpus never shuffles — the asymmetric
    * counterpart of x2's self-join. capBuckets drops degenerate hot
    * buckets before the join. Every stage is mod-P arithmetic
    * (polyHashMod), so the WHOLE pipeline replays in DuckDB — no
    * rows-only twin needed. */
  def fuzzyDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select(col("doc_id"), col("text"))
    val bench = base.filter(col("doc_id") % 53 === 0)
      .select((col("doc_id") + 3000000).as("doc_id"),
        expr("concat_ws(' ', slice(split(text, '\\\\s+'), 2, 100000))").as("text"))
    val sigs = Dedup.minhashPolyStage(base.union(bench)).cache()
    val banded = Dedup.capBuckets(Dedup.bandRows(sigs), Seq("band", "bucket"),
      maxBucketSize = 100000)
    val bt = banded.filter(col("doc_id") < 3000000)
      .select(col("doc_id").as("train_id"), col("band"), col("bucket"))
    val bb = banded.filter(col("doc_id") >= 3000000)
      .select(col("doc_id").as("bench_id"), col("band"), col("bucket"))
    val cand = bt.join(broadcast(bb), Seq("band", "bucket"))
      .select(col("train_id"), col("bench_id")).distinct()
    val shT = sigs.select(col("doc_id").as("train_id"),
      col("shingles").as("sh_t"))
    val shB = sigs.select(col("doc_id").as("bench_id"),
      col("shingles").as("sh_b"))
    cand.join(shT, Seq("train_id")).join(broadcast(shB), Seq("bench_id"))
      .withColumn("jaccard", Dedup.jaccard(col("sh_t"), col("sh_b")))
      .filter(G.simFilter(col("jaccard"), lit(0.5)))
      .select(col("train_id"), col("bench_id"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("train_id"), col("bench_id"))
  }

  val fuzzyDecontaminateSql: String = Dedup.minhashChainSql(
    """
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000 AS doc_id,
      |    array_to_string(string_split_regex(text, '\s+')[2:], ' ') AS text
      |  FROM documents WHERE doc_id % 53 = 0""".stripMargin) + """,
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS bench_id
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bucket = b.bucket
      |  WHERE a.doc_id < 3000000 AND b.doc_id >= 3000000)
      |SELECT p.train_id, p.bench_id,
      |  round(len(list_intersect(x.shingles, y.shingles)) * CAST(1.0 AS DOUBLE) /
      |        len(list_distinct(list_concat(x.shingles, y.shingles))), 4) AS jaccard
      |FROM pairs p
      |JOIN sh x ON x.doc_id = p.train_id
      |JOIN sh y ON y.doc_id = p.bench_id
      |WHERE len(list_intersect(x.shingles, y.shingles)) * CAST(1.0 AS DOUBLE) /
      |      len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.5
      |ORDER BY train_id, bench_id""".stripMargin

  /** c18: CONTIGUOUS contamination spans — for every (bench, train) doc
    * pair sharing at least one 8-gram, the token length of the longest
    * VERBATIM shared run. The strict end of the decontamination ladder:
    * [[decontaminate]] (c6) counts distinct shared grams with no
    * contiguity, c12 is fuzzy set-overlap; this reports exact contiguous
    * spans, the unit real eval-leak audits act on. Matched 8-gram offset
    * pairs chain along DIAGONALS (b_off − t_off constant, consecutive
    * b_off), so the longest run is a gaps-and-islands count per
    * (pair, diagonal) plus 7.
    *
    * Scale shape: bench grams broadcast (the benchmark side is small by
    * definition), so the train gram stream joins without shuffling and
    * only true matches survive to the island windows — which partition by
    * (bench, train, diag), keyed, never global. O(matches) ≪ O(grams)
    * past the broadcast join. */
  def contigContam(spark: SparkSession, dir: String): DataFrame = {
    val gram8 = (df: DataFrame) => df
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        posexplode(expr(
          """transform(sequence(1, size(toks) - 7),
            |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1),
            |         element_at(toks, i+2), element_at(toks, i+3),
            |         element_at(toks, i+4), element_at(toks, i+5),
            |         element_at(toks, i+6), element_at(toks, i+7)))"""
            .stripMargin)).as(Seq("off", "gram")))
    val d = docs(spark, dir)
    val bench = gram8(d.filter(col("doc_id") % 7 === 3))
      .select(col("doc_id").as("bench_id"), col("off").as("b_off"),
        col("gram"))
    val train = gram8(d.filter(col("doc_id") % 7 =!= 3))
      .select(col("doc_id").as("train_id"), col("off").as("t_off"),
        col("gram"))
    val w = Window.partitionBy(col("bench_id"), col("train_id"), col("diag"))
      .orderBy(col("b_off"))
    train.join(broadcast(bench), "gram")
      .select(col("bench_id"), col("train_id"), col("b_off"),
        (col("b_off") - col("t_off")).as("diag"))
      .withColumn("island", col("b_off") - row_number().over(w))
      .groupBy(col("bench_id"), col("train_id"), col("diag"), col("island"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("bench_id"), col("train_id"))
      .agg((max(col("run")) + 7).as("max_span_tokens"),
        count(lit(1)).as("n_runs"))
      .orderBy(col("bench_id"), col("train_id"))
  }

  val contigContamSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
      |    i -> {'off': i - 1,
      |          'gram': t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '
      |                  ||t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7]}))
      |    AS og
      |  FROM tok WHERE len(t) >= 8),
      |g AS (SELECT doc_id, og.off AS off, og.gram AS gram FROM g0),
      |m AS (
      |  SELECT b.doc_id AS bench_id, tr.doc_id AS train_id, b.off AS b_off,
      |         b.off - tr.off AS diag
      |  FROM g b JOIN g tr ON b.gram = tr.gram
      |  WHERE b.doc_id % 7 = 3 AND tr.doc_id % 7 <> 3),
      |i AS (
      |  SELECT bench_id, train_id, diag, b_off,
      |    b_off - row_number() OVER (
      |      PARTITION BY bench_id, train_id, diag ORDER BY b_off) AS island
      |  FROM m),
      |r AS (
      |  SELECT bench_id, train_id, diag, island, count(*) AS run
      |  FROM i GROUP BY 1, 2, 3, 4)
      |SELECT bench_id, train_id,
      |  CAST(max(run) + 7 AS BIGINT) AS max_span_tokens,
      |  count(*) AS n_runs
      |FROM r GROUP BY 1, 2 ORDER BY bench_id, train_id""".stripMargin

  /** q_c21: per-source DATASET CARD — the one-row-per-source report every
    * corpus release ships: volume (docs, tokens), exact-dup rate (docs
    * minus distinct text digests), dominant language with its share, and
    * the DECIMAL-exact mean quality score. Pure composition of the
    * engine's own primitives in ONE pass per input (token explode feeds a
    * source-keyed agg; digests aggregate as count(distinct md5); the
    * language mode is a tiny per-(source, lang) agg + deterministic
    * (cnt desc, lang) pick; quality joins the t2 scorer). Everything
    * integer or single-division exact — the card is hash-reproducible,
    * which is the point: a release artifact you can diff. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = G.table(spark, dir, "documents")
    val base = d.select(col("source"), col("lang"), col("doc_id"),
      md5(col("text")).as("dig"),
      size(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
        .cast("long").as("n_toks"))
    val vol = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("n_tokens"),
      (count(lit(1)) - countDistinct(col("dig"))).as("dup_docs"))
    val langW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("cnt").desc, col("lang"))
    val topLang = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(langW))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("cnt").as("top_lang_docs"))
    val quality = graft.operators.TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val avgQ = base.select(col("source"), col("doc_id"))
      .join(quality, "doc_id")
      .groupBy(col("source"))
      .agg(G.davg(col("quality_score")).as("avg_quality"))
    vol.join(topLang, "source").join(avgQ, "source")
      .withColumn("top_lang_share",
        col("top_lang_docs").cast("double") / col("n_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("dup_docs"), col("top_lang"), col("top_lang_share"),
        col("avg_quality"))
      .orderBy(col("source"))
  }

  val datasetCardSql: String =
    s"""WITH base AS (
       |  SELECT source, lang, doc_id, md5(text) AS dig,
       |    len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> t <> '')) AS n_toks
       |  FROM documents),
       |vol AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |    count(*) - count(DISTINCT dig) AS dup_docs
       |  FROM base GROUP BY source),
       |lc AS (
       |  SELECT source, lang, count(*) AS cnt,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY count(*) DESC, lang) AS rn
       |  FROM base GROUP BY source, lang),
       |tl AS (SELECT source, lang AS top_lang, cnt AS top_lang_docs
       |       FROM lc WHERE rn = 1),
       |q AS (SELECT doc_id, quality_score FROM (
       |${graft.operators.TextAnalysis.qualityScoreSql
             .replace("ORDER BY doc_id", "")}) qq),
       |aq AS (
       |  SELECT b.source,
       |    CAST(CAST(SUM(CAST(q.quality_score AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(q.quality_score) AS avg_quality
       |  FROM base b JOIN q ON b.doc_id = q.doc_id GROUP BY b.source)
       |SELECT v.source, v.n_docs, v.n_tokens, v.dup_docs, t.top_lang,
       |  CAST(t.top_lang_docs AS DOUBLE) / v.n_docs AS top_lang_share,
       |  aq.avg_quality
       |FROM vol v JOIN tl t USING (source) JOIN aq USING (source)
       |ORDER BY v.source""".stripMargin

  /** q_c23: TOKEN-BUDGET-constrained selection — the curation decision in
    * its deployed form: "fill an N-token training budget per source with
    * the best documents first." Docs are ranked by the t2 quality score
    * (ties broken by doc_id — total order), and the greedy prefix whose
    * running token sum stays within the budget is kept; because the
    * knapsack items are divisible only at doc granularity and the value
    * density IS the ranking key, the greedy prefix is the exact optimum of
    * the fractional relaxation rounded down — the standard data-budget
    * selection (quality-first fill).
    *
    * Plan: score = scan-speed projection (t2); one join to recover the
    * source; ONE window pass per source computes both pick_rank and the
    * running token sum (same frame, same sort — Catalyst plans a single
    * sort + window). The window is keyed by source, so at 100 TB each
    * source sorts independently — and a same-key skew would switch to the
    * c20 move (decile histogram → threshold) which needs no sort at all;
    * this formulation keeps the per-doc audit trail (rank, cumulative
    * tokens) that the histogram variant gives up. */
  def tokenBudget(spark: SparkSession, dir: String,
      budget: Long = 800): DataFrame = {
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    q.join(src, Seq("doc_id"))
      .withColumn("pick_rank", row_number().over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= budget)
      .select(col("source"), col("pick_rank"), col("doc_id"),
        col("n_tokens"), col("cum_tokens"), col("quality_score"))
      .orderBy(col("source"), col("pick_rank"))
  }

  val tokenBudgetSql: String = {
    val scored = TextAnalysis.qualityScoreSql.replace("ORDER BY doc_id", "")
    s"""WITH q AS ($scored),
       |j AS (
       |  SELECT d.source, q.doc_id, q.n_tokens, q.quality_score
       |  FROM q JOIN documents d ON q.doc_id = d.doc_id),
       |r AS (
       |  SELECT source, doc_id, n_tokens, quality_score,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY quality_score DESC, doc_id) AS pick_rank,
       |    sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY quality_score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |  FROM j)
       |SELECT source, pick_rank, doc_id, n_tokens,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens, quality_score
       |FROM r WHERE cum_tokens <= 800
       |ORDER BY source, pick_rank""".stripMargin
  }

  /** q_c24: CROSS-SOURCE duplication matrix — WHERE the duplicate mass
    * lives, not just how much (x1 counts copies; this attributes them):
    * for every source pair, the number of shared content digests and
    * duplicate doc pairs. Cross-source mass means mirrors/aggregators
    * (dedup globally, keep one source's copy); within-source mass means
    * re-crawls (dedup per source). The planted population mirrors x1's
    * (every 5th doc re-keyed under a 'recrawl' source → cross-source
    * dups) plus every 7th doc duplicated in place (within-source dups).
    *
    * Scale shape: docs collapse to (digest, source, count) in one
    * two-phase hash-agg — the ONLY shuffle that sees per-doc rows, and it
    * carries 16-byte digests, never text; the pair matrix is a self-join
    * of that collapsed frame keyed by digest (group sizes are copy
    * counts, tiny by definition) plus a digest-local within-source term
    * with no join at all. Output is O(sources²) rows. */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select(col("doc_id"), col("text"), col("source"))
    val recrawl = base.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id") + 1000000, col("text"), lit("recrawl").as("source"))
    val inplace = base.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id") + 2000000, col("text"), col("source"))
    val d = base.unionByName(recrawl.toDF("doc_id", "text", "source"))
      .unionByName(inplace.toDF("doc_id", "text", "source"))
      .select(md5(col("text")).as("dig"), col("source"))
      .groupBy(col("dig"), col("source")).agg(count(lit(1)).as("c"))
      .cache()
    val cross = d.select(col("dig"), col("source").as("src_a"), col("c").as("ca"))
      .join(d.select(col("dig"), col("source").as("src_b"), col("c").as("cb")),
        Seq("dig"))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), (col("ca") * col("cb")).as("pairs"))
    val within = d.filter(col("c") >= 2)
      .select(col("source").as("src_a"), col("source").as("src_b"),
        expr("c * (c - 1) DIV 2").as("pairs"))
    cross.unionByName(within)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_digests"), sum(col("pairs")).as("n_dup_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169): score
    * every raw document by how target-domain-like its hashed unigram
    * features are — weight(x) ∝ p_target(features) / p_raw(features) — and
    * keep the top-K. The target sample here is sources src0–src3 (playing
    * the "trusted domain" corpus: Wikipedia/books in the paper); raw is the
    * whole corpus.
    *
    * Deviations from the paper, both deliberate and documented:
    *  - the paper's log-likelihood-ratio SUM is replaced by the MEAN of
    *    per-token count ratios (cnt_target+1)/(cnt_raw+1) in BIGINT
    *    fixed-point micro-units — the same rational-instead-of-
    *    transcendental lever as q_t10's idf and the g7 fixed-point rule
    *    (SCALE.md): integer DIV keeps five orders of chained arithmetic
    *    bit-identical across engines, and the ratio mean is monotone in
    *    the same per-token evidence;
    *  - the paper's Gumbel resampling is replaced by deterministic top-K
    *    (the c11 weighted-Bernoulli query already demonstrates the
    *    hash-threshold sampling alternative).
    *
    * Scale shape: features are hash buckets (poly-hash mod 4096), so both
    * count frames are ≤ 4096 rows — broadcast to the token stream; the
    * only keyed exchanges carry (bucket) ints and (doc_id, long) partial
    * sums. Nothing re-scans the corpus: one tokenize pass feeds the raw
    * counts, the target counts, and the scoring join. */
  def dsirSelect(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("b", expr(
        """aggregate(transform(sequence(1, length(tok)),
          |            j -> CAST(ascii(substr(tok, j, 1)) AS BIGINT)),
          |          CAST(0 AS BIGINT),
          |          (a, c) -> (a * 31 + c) % 1000000007) % 4096""".stripMargin))
    val cntR = toks.groupBy(col("b")).agg(count(lit(1)).as("c_r"))
    val cntT = toks
      .filter(col("source").isin("src0", "src1", "src2", "src3"))
      .groupBy(col("b")).agg(count(lit(1)).as("c_t"))
    toks
      .join(broadcast(cntR), Seq("b"))
      .join(broadcast(cntT), Seq("b"), "left")
      .withColumn("tok_score",
        expr("((coalesce(c_t, 0) + 1) * 1000000) DIV (c_r + 1)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("tok_score")).as("s"))
      .withColumn("score",
        col("s").cast("double") / (col("n_toks") * lit(1000000.0)))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank", expr(
        "row_number() OVER (ORDER BY score DESC, doc_id)"))
      .select(col("rank"), col("doc_id"), col("n_toks"), col("score"))
      .orderBy(col("rank"))
  }

  val dsirSelectSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, tok,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, length(tok)),
      |        j -> CAST(unicode(substr(tok, CAST(j+1 AS INT), 1)) AS BIGINT))),
      |      (a, c) -> (a * 31 + c) % 1000000007) % 4096 AS b
      |  FROM (SELECT doc_id, source,
      |          unnest(string_split_regex(lower(text), '\s+')) AS tok
      |        FROM documents) t
      |  WHERE length(tok) > 0),
      |cnt_r AS (SELECT b, count(*) AS c_r FROM toks GROUP BY b),
      |cnt_t AS (SELECT b, count(*) AS c_t FROM toks
      |          WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY b),
      |scored AS (
      |  SELECT t.doc_id, count(*) AS n_toks,
      |    CAST(sum(((coalesce(c.c_t, 0) + 1) * 1000000) // (r.c_r + 1))
      |         AS BIGINT) AS s
      |  FROM toks t
      |  JOIN cnt_r r ON t.b = r.b
      |  LEFT JOIN cnt_t c ON t.b = c.b
      |  GROUP BY t.doc_id),
      |top AS (
      |  SELECT doc_id, n_toks,
      |    CAST(s AS DOUBLE) / (n_toks * 1000000.0) AS score
      |  FROM scored
      |  ORDER BY score DESC, doc_id LIMIT 100)
      |SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
      |  doc_id, n_toks, score
      |FROM top ORDER BY rank""".stripMargin

  /** q_c26: DETERMINISTIC EPOCH SHUFFLE — assign every doc a (shard,
    * position) for training-order data loading, reproducible across
    * reruns, engines, and cluster sizes. Order within an epoch must be
    * pseudorandom but STABLE (resume-from-step needs position k to be
    * the same doc tomorrow), so the permutation key is content+epoch
    * hashed (md5), never rand(): shard = first byte of md5 mod 8,
    * position = rank of the md5 within the shard. Epoch 1 here; a loader
    * varies the salt per epoch for fresh permutations.
    *
    * Scale shape: this is the op that tempts a GLOBAL sort/row_number —
    * the keyed form is equivalent and scale-safe: the window partitions
    * by shard (8 bounded partitions of n/8 docs each... at 100 TB use
    * 2¹⁴ shards so each window partition stays executor-sized, same
    * query), one hash exchange + per-shard sort, no single-task stage.
    * A loader reads shard files independently; (shard, pos) is the
    * resume cursor. */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), md5(concat(col("text"), lit("#epoch1"))).as("k"))
      .withColumn("shard",
        expr("CAST(conv(substr(k, 1, 2), 16, 10) AS BIGINT) % 8"))
      .withColumn("pos", expr(
        "row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)"))
      .select(col("shard"), col("pos").cast("long").as("pos"),
        col("doc_id"), col("k"))
      .orderBy(col("shard"), col("pos"))

  val epochShuffleSql: String =
    """WITH h AS (
      |  SELECT doc_id, md5(text || '#epoch1') AS k FROM documents),
      |s AS (SELECT doc_id, k,
      |        CAST(('0x' || substr(k, 1, 2))::INT AS BIGINT) % 8 AS shard
      |      FROM h)
      |SELECT shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
      |       AS BIGINT) AS pos,
      |  doc_id, k
      |FROM s ORDER BY shard, pos""".stripMargin

  val crossSourceDupsSql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, 'recrawl' AS source
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text, source
      |  FROM documents WHERE doc_id % 7 = 0),
      |d AS (
      |  SELECT md5(text) AS dig, source, count(*) AS c
      |  FROM all_docs GROUP BY dig, source),
      |cross_p AS (
      |  SELECT a.src_a, a.src_b, a.pairs FROM (
      |    SELECT x.source AS src_a, y.source AS src_b, x.c * y.c AS pairs
      |    FROM d x JOIN d y ON x.dig = y.dig AND x.source < y.source) a
      |  UNION ALL
      |  SELECT source AS src_a, source AS src_b, c * (c - 1) // 2 AS pairs
      |  FROM d WHERE c >= 2)
      |SELECT src_a, src_b, count(*) AS n_shared_digests,
      |  CAST(sum(pairs) AS BIGINT) AS n_dup_pairs
      |FROM cross_p
      |GROUP BY src_a, src_b
      |ORDER BY src_a, src_b""".stripMargin

  /** q_c30: WATER-FILLING BUDGET ALLOCATION — the fair-division step of a
    * mixing recipe: given each source's available token mass and a global
    * budget (90% of the total, integer-exact as `total·9 DIV 10` — the
    * fraction is chosen so this corpus exercises BOTH branches: the two
    * smallest sources sit below the level and keep everything, the rest
    * are capped), find
    * the unique level L such that granting every source min(avail, L)
    * spends the budget. Small sources keep everything; sources above the
    * level are capped at a common allocation — max-min fairness, the
    * allocator behind "no source may dominate the mixture" recipes
    * (Dolma/RedPajama-style mixing caps, solved exactly instead of by
    * iteration). The classic O(n log n) construction: sort sources by
    * avail ascending, prefix-sum, find the first index i* where
    * `prefix(i*−1) + avail(i*)·(n−i*+1) ≥ budget`; everyone before i*
    * gets full avail, the m = n−i*+1 capped sources share
    * rem = budget − prefix(i*−1) as q = rem DIV m each, the r = rem mod m
    * leftover tokens going one each to the r smallest capped sources
    * (total-order deterministic). Every quantity is a BIGINT — the whole
    * allocation is hash-exact, and Σ allocation = budget BY CONSTRUCTION
    * (a law the spec asserts).
    *
    * Scale shape: one keyed agg over documents (source, partial sums),
    * then every window runs over the ≤|sources| aggregated frame (the
    * a22 precedent — sources are O(100s) at any corpus scale, never
    * O(docs)). */
  def waterfillAllocation(spark: SparkSession, dir: String): DataFrame = {
    val avail = docs(spark, dir)
      .select(col("source"), expr("size(split(text, '\\\\s+'))").as("nt"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).cast("long").as("avail"))
    waterfillFromAvail(avail)
  }

  /** The allocation construction on an already-aggregated
    * (source, avail) frame — shared by the batch query and the streaming
    * incremental maintenance (q_stream_waterfill), which feeds it the
    * per-source sums merged across micro-batches. */
  private[graft] def waterfillFromAvail(avail: DataFrame): DataFrame = {
    val wAll = Window.partitionBy()
    val wAsc = Window.partitionBy().orderBy(col("avail"), col("source"))
    avail
      .withColumn("total", sum(col("avail")).over(wAll))
      .withColumn("budget", expr("total * 9 DIV 10"))
      .withColumn("i", row_number().over(wAsc))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("prefix", sum(col("avail")).over(
        wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("would",
        col("prefix") - col("avail") +
          col("avail") * (col("n") - col("i") + 1))
      .withColumn("istar",
        min(when(col("would") >= col("budget"), col("i"))).over(wAll))
      .withColumn("prefix_before",
        max(when(col("i") === col("istar"),
          col("prefix") - col("avail"))).over(wAll))
      .withColumn("m", col("n") - col("istar") + 1)
      .withColumn("rem", col("budget") - col("prefix_before"))
      .withColumn("q", expr("rem DIV m"))
      .withColumn("r", expr("rem % m"))
      .withColumn("allocation",
        when(col("istar").isNull || col("i") < col("istar"), col("avail"))
          .otherwise(col("q") +
            when(col("i") - col("istar") < col("r"), lit(1L))
              .otherwise(lit(0L))))
      .withColumn("capped",
        col("istar").isNotNull && col("i") >= col("istar"))
      .select(col("source"), col("avail"), col("budget"),
        col("allocation"), col("capped"))
      .orderBy(col("source"))
  }

  val waterfillAllocationSql: String =
    """WITH avail AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
      |      AS avail
      |  FROM documents GROUP BY source),
      |ranked AS (
      |  SELECT source, avail,
      |    CAST(SUM(avail) OVER () AS BIGINT) AS total,
      |    (CAST(SUM(avail) OVER () AS BIGINT) * 9) // 10 AS budget,
      |    row_number() OVER (ORDER BY avail, source) AS i,
      |    CAST(count(*) OVER () AS BIGINT) AS n,
      |    CAST(SUM(avail) OVER (ORDER BY avail, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS prefix
      |  FROM avail),
      |flagged AS (
      |  SELECT *, prefix - avail + avail * (n - i + 1) AS would
      |  FROM ranked),
      |star AS (
      |  SELECT min(CASE WHEN would >= budget THEN i END) AS istar
      |  FROM flagged),
      |pb AS (
      |  SELECT f.prefix - f.avail AS prefix_before
      |  FROM flagged f JOIN star s ON f.i = s.istar)
      |SELECT source, avail, budget,
      |  CAST(CASE WHEN istar IS NULL OR i < istar THEN avail
      |    ELSE (budget - prefix_before) // (n - istar + 1)
      |      + (CASE WHEN i - istar <
      |           (budget - prefix_before) % (n - istar + 1)
      |         THEN 1 ELSE 0 END) END AS BIGINT) AS allocation,
      |  (istar IS NOT NULL AND i >= istar) AS capped
      |FROM flagged CROSS JOIN star LEFT JOIN pb ON TRUE
      |ORDER BY source""".stripMargin
}
