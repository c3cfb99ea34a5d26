package graft

import graft.operators.{AnomalyDetection, TradeAggregates}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale stress: generate N synthetic events DISTRIBUTED (spark.range — no
  * driver materialization, no parquet), push them through the hot operator
  * paths, report rows/s. This is the "would it survive 100×sf0.1" smoke:
  * key cardinality and data volume both scale with N while per-key state
  * stays O(1).
  *
  * Usage: runMain graft.Stress [nEvents] [nKeys]
  */
object Stress {

  /** Shared ladder corpus: 16-token docs from a 4096-word vocab, with 1%
    * planted near-dup mutations (every id ≡ 99 mod 100 copies its
    * predecessor's tokens 1..15). Gram/bucket spaces stay sparse so the
    * near-dup pipelines' cost tracks corpus size, and the planted pairs
    * give banding+verify stages real work that grows linearly. */
  private def syntheticDocs(spark: SparkSession, nDocs0: Long)
      : org.apache.spark.sql.DataFrame = {
    val nDocs = math.max(nDocs0, 1000L)
    spark.range(nDocs)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 16).map { w =>
          val seed =
            if (w == 0) col("id")
            else when(col("id") % 100 === 99, col("id") - 1)
              .otherwise(col("id"))
          concat(lit("w"), pmod(xxhash64(seed * 16 + w), lit(4096)))
        }: _*).as("text"))
  }

  private[graft] def setup: Graft.Setup =
    Graft.Setup("graft-stress", Graft.envCores(32))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val nKeys = args.drop(1).headOption.map(_.toLong).getOrElse(50000L)
    val spark = setup.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deterministic synthetic events: many keys, 30-day span
    val ev = spark.range(n)
      .select(
        col("id").as("event_id"),
        timestamp_millis(lit(1700000000000L) +
          pmod(col("id") * 2654435761L, lit(2592000000L))).as("ts"),
        pmod(xxhash64(col("id")), lit(nKeys)).as("user_id"),
        element_at(array(lit("purchase"), lit("view"), lit("click"),
          lit("signup"), lit("error")),
          (pmod(xxhash64(col("id") + 7), lit(5)) + 1).cast("int"))
          .as("event_type"),
        (pmod(xxhash64(col("id") + 13), lit(20000)).cast("double") / 100.0)
          .as("value"),
        pmod(xxhash64(col("id") + 17), lit(101)).as("k"))

    // optional stage filter: runMain graft.Stress <n> <nKeys> [stage ...]
    // (ladder runs re-measure one stage in a fresh JVM without paying for
    // the whole suite)
    val only = args.drop(2).toSet
    def time[T](label: String)(f: => T): (String, Double) = {
      if (only.nonEmpty && !only.contains(label)) return label -> -1.0
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"STRESS $label%-22s ${dt}%8.2f s  ${n / dt / 1e6}%8.2f M rows/s")
      label -> dt
    }

    val results = Seq(
      // the DECIMAL-exact sums pay a per-row Decimal allocation (SCALE.md)
      time("window_agg_decimal") {
        TradeAggregates.windowAggOn(ev)
          .write.mode("overwrite").format("noop").save()
      },
      time("detector_fold") {
        AnomalyDetection.detectOn(ev.select(col("user_id"), col("event_id"),
          expr("unix_micros(ts) DIV 1000").as("ts_ms"),
          col("value").as("price"), col("k").as("volume"),
          (col("value") * col("k")).as("amount"))
          .as[AnomalyDetection.Ev])
          .write.mode("overwrite").format("noop").save()
      },
      time("cdc_parse") {
        val js = ev.select(concat(
          lit("""{"payload": {"before": null, "after": {"trade_id": """),
          col("event_id"),
          lit(""", "market": "M"""), col("user_id"),
          lit("""", "trade_price": """"), col("value").cast("string"),
          lit("""", "ask_bid": "BID", "sequential_id": """), col("event_id"),
          lit("""}, "source": {"ts_ms": """), expr("unix_micros(ts) DIV 1000"),
          lit("""}, "op": "c", "ts_ms": """), expr("unix_micros(ts) DIV 1000 + 5"),
          lit("}}")).as("json"))
        graft.operators.CdcParser.parse(js, col("json"))
          .write.mode("overwrite").format("noop").save()
      },
      time("dedup_by_id") {
        ev.dropDuplicates("event_id")
          .write.mode("overwrite").format("noop").save()
      },
      time("minhash_signatures") {
        // 1M synthetic docs (16 words from a 64-word vocab, deterministic):
        // full 64-perm MinHash signature computation, the dedup hot path
        val nDocs = math.min(n, 1000000L)
        val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 16).map(w =>
            concat(lit("w"), pmod(xxhash64(col("id") * 16 + w), lit(64)))): _*)
            .as("text"))
        graft.operators.Dedup.signaturesOn(docs)
          .write.mode("overwrite").format("noop").save()
      },
      time("topn_per_key") {
        G.topK(ev, Seq(col("user_id")), Seq(col("value").desc, col("event_id")),
            3, "rn")
          .write.mode("overwrite").format("noop").save()
      },
      // sign-LSH ANN ingest (round 2): bucket signatures for 500k synthetic
      // 64-d vectors — 16 tables × 6 bits × 64 dims of plane dots per
      // vector, the mapPartitions hot loop behind q_y4/q_y4b
      time("signlsh_signatures") {
        val nVecs = math.min(n, 500000L)
        val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
          expr("""transform(sequence(0, 63),
                 |  d -> CAST(pmod(xxhash64(id * 64 + d), 2001) - 1000 AS DOUBLE) / 1000.0)"""
            .stripMargin).as("embedding"))
        graft.operators.Similarity.signatureStage(vecs)
          .write.mode("overwrite").format("noop").save()
      },
      // curation family (round 2): 1M synthetic docs through the funnel's
      // hot stages — hash-sample filter, chunk explode, bigram census
      time("curation_stages") {
        val nDocs = math.min(n, 1000000L)
        val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 16).map(w =>
            concat(lit("w"), pmod(xxhash64(col("id") * 16 + w), lit(64)))): _*)
            .as("text"))
          .withColumn("n_chars", length(col("text")).cast("long"))
        val sampled = docs
          .filter(substring(md5(col("text")), 1, 2) < "14")
        val chunks = docs
          .withColumn("s",
            explode(expr("sequence(0L, greatest(n_chars - 1L, 0L), 100L)")))
          .select(expr("substring(text, CAST(s + 1 AS INT), 120)").as("chunk"))
        val bigrams = docs
          .withColumn("toks", split(lower(col("text")), "\\s+"))
          .withColumn("bigram", explode(expr(
            """CASE WHEN size(toks) >= 2
              |  THEN transform(sequence(1, size(toks) - 1),
              |         i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
              |  ELSE array() END""".stripMargin)))
          .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("bigram")).limit(50)
        sampled.write.mode("overwrite").format("noop").save()
        chunks.write.mode("overwrite").format("noop").save()
        bigrams.write.mode("overwrite").format("noop").save()
      },
      // round 3: int8 quantization metrics over 1M synthetic 64-d vectors —
      // codegen QuantStats expression vs the CodegenFallback HOF folds
      // (bit-equal results, Round3OpsSpec; the gap is the reason the
      // expression exists)
      time("quantize_expr") {
        val nVecs = math.min(n, 1000000L)
        val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
          expr("""transform(sequence(0, 63),
                 |  d -> CAST(pmod(xxhash64(id * 64 + d), 2001) - 1000 AS DOUBLE) / 1000.0)"""
            .stripMargin).as("v"))
        vecs.withColumn("q",
            graft.functions.VectorExpressions.quant_stats(col("v")))
          .select(col("vec_id"), col("q.max_abs"), col("q.n_sat"), col("q.rmse"))
          .write.mode("overwrite").format("noop").save()
      },
      time("quantize_hof") {
        val nVecs = math.min(n, 1000000L)
        val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
          expr("""transform(sequence(0, 63),
                 |  d -> CAST(pmod(xxhash64(id * 64 + d), 2001) - 1000 AS DOUBLE) / 1000.0)"""
            .stripMargin).as("v"))
        vecs.withColumn("max_abs", expr(
            "aggregate(v, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(x)))"))
          .withColumn("scale", lit(127.0) / col("max_abs"))
          .select(col("vec_id"), col("max_abs"),
            expr("""CAST(size(filter(v,
                      x -> abs(floor(x * scale + 0.5d)) >= 127)) AS BIGINT)""")
              .as("n_sat"),
            expr("""sqrt(aggregate(v, CAST(0.0 AS DOUBLE),
                      (s, x) -> s + (x - floor(x * scale + 0.5d) / scale)
                                  * (x - floor(x * scale + 0.5d) / scale))
                    / CAST(size(v) AS DOUBLE))""").as("rmse"))
          .write.mode("overwrite").format("noop").save()
      },
      // round 3: PII regex scrub over 1M synthetic docs — three global
      // regexp_replace passes + three regexp_count, all codegen'd
      time("pii_redact") {
        val nDocs = math.min(n, 1000000L)
        val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 16).map(w =>
            concat(lit("w"), pmod(xxhash64(col("id") * 16 + w), lit(64)))): _*)
            .as("text"))
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\+1-555-[0-9]{3}-[0-9]{4}"
        val ipRe = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
        docs.withColumn("pii_text", concat(col("text"),
            when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
              col("doc_id"), lit("@example.com"))).otherwise(lit(""))))
          .select(col("doc_id"),
            regexp_count(col("pii_text"), lit(emailRe)).as("n_email"),
            length(regexp_replace(regexp_replace(regexp_replace(col("pii_text"),
              emailRe, "[EMAIL]"), phoneRe, "[PHONE]"), ipRe, "[IP]"))
              .as("redacted_len"))
          .write.mode("overwrite").format("noop").save()
      },
      // round 5: the two slowest bench queries, laddered (VERDICT r4 #7).
      // 8-gram census — the exact substringDupStats code over synthetic
      // docs (docs scale with n: n/10 docs of 16 tokens → 9 grams/doc)
      time("substring_census") {
        val nDocs = math.min(n / 10, 8000000L)
        val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 16).map(w =>
            concat(lit("w"), pmod(xxhash64(col("id") * 16 + w), lit(64)))): _*)
            .as("text"))
        graft.operators.Dedup.substringDupStatsOn(docs)
          .write.mode("overwrite").format("noop").save()
      },
      // round 7: Bloom-filter dedup (x16) over synthetic 16-token docs —
      // the position-set build + probe join; doubling nDocs should scale
      // ~linearly (grams linear, position set saturates at m bits)
      time("bloom_dedup") {
        val nDocs = math.min(n / 10, 8000000L)
        val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 16).map(w =>
            concat(lit("w"), pmod(xxhash64(col("id") * 16 + w), lit(64)))): _*)
            .as("text"))
        graft.operators.Dedup.bloomDedupOn(docs)
          .write.mode("overwrite").format("noop").save()
      },
      // connected components — the exact clustersFromPairs loop over a
      // deterministic random graph (n/10 edges over n/10 nodes, avg degree
      // 2 → giant component, diameter O(log n): the pointer-jump worst-ish
      // case, far harsher than LSH's near-clique components)
      time("cluster_pairs") {
        val nEdges = math.min(n / 10, 4000000L)
        val pairs = spark.range(nEdges).select(
            pmod(xxhash64(col("id")), lit(nEdges)).as("a"),
            pmod(xxhash64(col("id") + 31L), lit(nEdges)).as("b"))
          .filter(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("_1"),
            greatest(col("a"), col("b")).as("_2"))
          .as[(Long, Long)]
        graft.operators.Dedup.clustersFromPairs(pairs)
          .write.mode("overwrite").format("noop").save()
      },
      // round 6: the k-means assignment argmin A/B — one Lloyd round over
      // 500k synthetic 64-d vectors × 16 broadcast centroids. The
      // min(struct) formulation partial-aggregates the 16 candidate rows
      // per vector map-side (shuffle = n rows); the row_number window
      // (the pre-round-6 shape, kept here as the baseline) shuffles all
      // 16·n candidates and sorts them reduce-side.
      time("kmeans_argmin") {
        val nVecs = math.min(n, 500000L)
        val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
          expr("""transform(sequence(0, 63),
                 |  d -> CAST(pmod(xxhash64(id * 64 + d), 2001) - 1000 AS DOUBLE) / 1000.0)"""
            .stripMargin).as("v"))
        val cent = vecs.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("v").as("c"))
        vecs.crossJoin(broadcast(cent))
          .withColumn("dist2", expr(
            """aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)),
              |          CAST(0.0 AS DOUBLE), (s, t) -> s + t)""".stripMargin))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("dist2"), col("cid"), col("v"))).as("a"))
          .select(col("vec_id"), col("a.cid"), col("a.dist2"))
          .write.mode("overwrite").format("noop").save()
      },
      // narrow-struct variant: min over (dist2, cid) only, vector joined
      // back afterwards — trades the wide partial-agg for a join
      time("kmeans_argmin_join") {
        val nVecs = math.min(n, 500000L)
        val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
          expr("""transform(sequence(0, 63),
                 |  d -> CAST(pmod(xxhash64(id * 64 + d), 2001) - 1000 AS DOUBLE) / 1000.0)"""
            .stripMargin).as("v"))
        val cent = vecs.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("v").as("c"))
        val assign = vecs.crossJoin(broadcast(cent))
          .withColumn("dist2", expr(
            """aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)),
              |          CAST(0.0 AS DOUBLE), (s, t) -> s + t)""".stripMargin))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("dist2"), col("cid"))).as("a"))
          .select(col("vec_id"), col("a.cid").as("cid"),
            col("a.dist2").as("dist2"))
        assign.join(vecs, Seq("vec_id"))
          .write.mode("overwrite").format("noop").save()
      },
      // round 6: the PQ SEARCH hot path at scale — asymmetric-distance
      // scoring of 1M vectors' codes (m=8 subspaces) against 10 queries'
      // broadcast distance tables: the codes join is broadcast-keyed and
      // the per-(query, vector) sum partial-aggregates map-side, so the
      // corpus codes never shuffle. The bench queries run this at 2k
      // vectors; this is the 500× rung.
      time("pq_adc") {
        val nVecs = math.min(n / 10, 4000000L)
        val m = 8; val k = 16
        // synthetic code table: every vector coded in all m subspaces
        val codes = spark.range(nVecs).select(col("id").as("vec_id"),
            explode(expr(s"sequence(0, ${m - 1})")).as("m"))
          .withColumn("cid", pmod(xxhash64(col("vec_id") * 8 + col("m")), lit(k)))
        // per-query ADC tables: 10 queries x m x k distances
        val table = spark.range(10).select(col("id").as("query_id"))
          .crossJoin(spark.range(m).select(col("id").as("m")))
          .crossJoin(spark.range(k).select(col("id").as("cid")))
          .withColumn("qdist2",
            pmod(xxhash64(col("query_id") * 1000 + col("m") * 100 + col("cid")),
              lit(1000)).cast("double") / 100.0)
        G.topK(codes.join(broadcast(table), Seq("m", "cid"))
            .groupBy(col("query_id"), col("vec_id"))
            .agg(sum(col("qdist2")).as("adist")),
            Seq(col("query_id")), Seq(col("adist"), col("vec_id")), 5, "rank")
          .write.mode("overwrite").format("noop").save()
      },
      // round 6: SpaceSaving sketch vs exact hash-agg heavy hitters over n
      // harmonically-skewed string keys (each row draws a modulus m uniform
      // in 1..1000 then a key uniform in 0..m-1 → P(key) ~ log(1000/key)).
      // The sketch's shuffle is O(capacity x partitions) regardless of key
      // cardinality; the exact plan shuffles O(distinct). At 1000 distinct
      // keys the exact plan WINS (map-side combine collapses everything) —
      // the sketch's value begins where the distinct count stops fitting
      // the agg hash table; this pair quantifies the constant-factor cost
      // paid for bounded state at a cardinality where both are viable.
      time("heavy_hitters_sketch") {
        val keys = spark.range(n).select(concat(lit("w"),
          pmod(xxhash64(col("id")),
            pmod(xxhash64(col("id") + 5), lit(1000)) + 1)).as("k"))
        val ss = udaf(new graft.functions.SpaceSaving.Agg(256))
        keys.agg(ss(col("k")).as("hh"))
          .select(explode(col("hh")).as("h"))
          .select(col("h.bigram"), col("h.cnt_est"), col("h.err"))
          .orderBy(col("cnt_est").desc).limit(50)
          .write.mode("overwrite").format("noop").save()
      },
      time("heavy_hitters_exact") {
        val keys = spark.range(n).select(concat(lit("w"),
          pmod(xxhash64(col("id")),
            pmod(xxhash64(col("id") + 5), lit(1000)) + 1)).as("k"))
        keys.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("k")).limit(50)
          .write.mode("overwrite").format("noop").save()
      },
      // round 6: PageRank rounds on the same adversarial random graph as
      // cluster_pairs (n/10 edges, avg degree 2) — per round ONE keyed
      // join + ONE keyed agg, the Pregel shape; the decimal-exact sums
      // are the oracle-parity cost, as with window_agg_decimal
      time("pagerank_rounds") {
        val nEdges = math.min(n / 10, 4000000L)
        val pairs = spark.range(nEdges).select(
            pmod(xxhash64(col("id")), lit(nEdges)).as("a"),
            pmod(xxhash64(col("id") + 31L), lit(nEdges)).as("b"))
          .filter(col("a") =!= col("b"))
        val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
          .cache()
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .select(col("src").as("node"), col("deg"))
        val nn = broadcast(deg.agg(count(lit(1)).as("nN")))
        var ranks = deg.crossJoin(nn)
          .select(col("node"), col("deg"), (lit(1.0) / col("nN")).as("rank"))
        for (_ <- 1 to 3) {
          val contrib = edges.join(ranks, col("src") === col("node"))
            .groupBy(col("dst"))
            .agg(G.dsum(col("rank") / col("deg"), 12).as("contrib"))
          ranks = deg.join(contrib, col("node") === col("dst")).crossJoin(nn)
            .select(col("node"), col("deg"),
              (lit(0.15) / col("nN") + lit(0.85) * col("contrib")).as("rank"))
        }
        ranks.write.mode("overwrite").format("noop").save()
        edges.unpersist()
      },
      // round 6: degree-oriented triangle counting — nBaskets = n/40
      // baskets of 6 items over a 3·nBaskets key space: the part space must
      // scale LINEARLY with baskets or the graph saturates toward complete
      // (first cut used nBaskets/50 parts → ~1e9 wedges at 100k baskets,
      // 68 s; with 3× parts the same volume runs in seconds and 2× baskets
      // ≈ 2× edges, so the ladder ratio measures the algorithm, not
      // density collapse)
      time("triangles") {
        val nBaskets = math.min(n / 40, 1000000L)
        val nParts = nBaskets * 3L
        val baskets = spark.range(nBaskets * 6).select(
          (col("id") / 6L).cast("long").as("ok"),
          pmod(xxhash64(col("id") * 7L), lit(nParts)).as("pk"))
        graft.operators.Graph.trianglesFromBaskets(baskets)
          .write.mode("overwrite").format("noop").save()
      },
      // round 6: suffix-array build by prefix doubling — nDocs = n/10 docs
      // of 16 tokens (64-word vocab → heavy shared-prefix structure, so
      // rank classes stay fat for several rounds); converges after the
      // k=16 round since prefix 32 > doc length, exercising the early stop
      time("suffix_array") {
        val nDocs = math.min(n / 10, 2000000L)
        val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 16).map(w =>
            concat(lit("w"), pmod(xxhash64(col("id") * 16 + w), lit(64)))): _*)
            .as("text"))
        graft.operators.Dedup.suffixArrayOn(spark, docs)
          .write.mode("overwrite").format("noop").save()
      },
      // round 7: k-core bounded peel on co-partitioned RDD rounds — random
      // graph at average degree 16 over nNodes = n/80, so the 10-core
      // peel removes the Poisson tail and cascades a couple of rounds;
      // ladder measures per-round cost at 2x edges
      time("kcore") {
        val nEdges = math.min(n / 10, 4000000L)
        val nNodes = math.max(nEdges / 8, 1L)
        val edges = spark.range(nEdges).select(
          pmod(xxhash64(col("id") * 13L), lit(nNodes)).as("u"),
          pmod(xxhash64(col("id") * 29L + 7L), lit(nNodes)).as("v"))
          .filter(col("u") =!= col("v"))
          .distinct()
        graft.operators.Graph.kcoreFromEdges(edges, 4)
          .write.mode("overwrite").format("noop").save()
      },
      // round 7: bounded-radius BFS on the same random graph as kcore —
      // 1% of nodes seed, 3 relaxation rounds; ladder measures the
      // per-round (narrow join + reduceByKey(min)) cost at 2x edges
      time("bfs") {
        val nEdges = math.min(n / 10, 4000000L)
        val nNodes = math.max(nEdges / 8, 1L)
        val edges = spark.range(nEdges).select(
          pmod(xxhash64(col("id") * 13L), lit(nNodes)).as("u"),
          pmod(xxhash64(col("id") * 29L + 7L), lit(nNodes)).as("v"))
          .filter(col("u") =!= col("v"))
          .distinct()
        val seeds = spark.range(nNodes / 100L).select(col("id").as("s"))
        graft.operators.Graph.bfsFromEdges(edges, seeds, 3)
          .write.mode("overwrite").format("noop").save()
      },
      // round 6: pHash signature kernel over synthetic blobs (~120 B each)
      // — the q_m6 scan-stage cost; only (doc_id, phash) leaves the stage
      time("phash_signatures") {
        val nDocs = math.min(n, 1000000L)
        val blobs = spark.range(nDocs).select(col("id").as("doc_id"),
          encode(concat_ws(" ", (0 until 16).map(w =>
            concat(lit("w"), pmod(xxhash64(col("id") * 16 + w), lit(64)))): _*),
            "utf-8").as("media"))
        graft.operators.Multimodal.phashSigsOn(blobs)
          .write.mode("overwrite").format("noop").save()
      },
      // round 6: greedy sequence packing — tokenize + capacity-reset fold
      // inside 64-doc shards; parallelism = nDocs/64 groups
      time("seq_pack") {
        val nDocs = math.min(n, 8000000L)
        val docs = spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 16).map(w =>
            concat(lit("w"), pmod(xxhash64(col("id") * 16 + w), lit(64)))): _*)
            .as("text"))
        graft.operators.Curation.seqPackOn(docs, 512L)
          .write.mode("overwrite").format("noop").save()
      },
      // round 8: the TPC-H star-join shape (r31/r35/r38) at synthetic
      // scale — fact⋈fact shuffle on the order key plus two broadcast
      // dimensions and a residual nation-match; the ladder measures the
      // one-exchange claim as rows double (join + partial agg should scale
      // ~linearly; a second exchange would show as a super-linear knee)
      time("star_join") {
        val nOrd = math.max(n / 4, 1L)
        val ord = spark.range(nOrd).select(col("id").as("o_orderkey"),
          pmod(xxhash64(col("id")), lit(nKeys)).as("o_custkey"))
        val li = spark.range(n).select(
          pmod(xxhash64(col("id") + 3), lit(nOrd)).as("l_orderkey"),
          pmod(xxhash64(col("id") + 5), lit(1000L)).as("l_suppkey"),
          (pmod(xxhash64(col("id") + 7), lit(100000)).cast("double")
            / 100.0).as("rev"))
        val cust = spark.range(nKeys).select(col("id").as("c_custkey"),
          pmod(col("id"), lit(25)).as("c_nation"))
        val sup = spark.range(1000).select(col("id").as("s_suppkey"),
          pmod(col("id"), lit(25)).as("s_nation"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .where(col("s_nation") === col("c_nation"))
          .groupBy(col("c_nation"))
          .agg(sum(col("rev")).as("revenue"), count(lit(1)).as("n_lines"))
          .write.mode("overwrite").format("noop").save()
      },
      // decorrelated-subquery shape (r27/r41/r42/r46/r47: the window
      // rewrite of TPC-H's correlated quantifiers): per-(key, subkey)
      // DECIMAL agg -> window total over key -> share threshold. Two
      // keyed exchanges — (key, subkey) for the agg, key for the window;
      // the window input is the AGGREGATED frame (|keys|·|subkeys| rows,
      // not n), which is what makes the rewrite scale: the raw table
      // never sorts.
      time("decorrelated_window") {
        import org.apache.spark.sql.expressions.Window
        val pk = math.max(nKeys / 10, 1L)
        val li = ev.select(
          pmod(col("user_id"), lit(pk)).as("pk"),
          pmod(xxhash64(col("event_id")), lit(100L)).as("sk"),
          col("value"))
        val pair = li.groupBy(col("pk"), col("sk"))
          .agg(G.dsum(col("value")).as("q"))
        val w = Window.partitionBy(col("pk"))
        pair
          .withColumn("tot",
            sum(col("q").cast("decimal(38,6)")).over(w).cast("double"))
          .filter(col("q") > lit(0.3) * col("tot"))
          .write.mode("overwrite").format("noop").save()
      },
      // round 8 ladders (VERDICT r7 #5): the FULL dedup/ANN pipelines a
      // 100 TB run leans on — not just their signature stages — on
      // synthetic corpora sized by n so fresh-JVM 1×/2×/4× runs measure
      // end-to-end scaling. Corpus design: 16 tokens from a 4096-word
      // vocab (gram space >> corpus, so random bucket collisions stay
      // negligible and cost scales with the CORPUS, not accidental pair
      // blowup) + 1% planted near-dup mutations (doc 100k+1 = doc 100k
      // with token 0 changed) so the banding+verify stages have real,
      // linearly-growing work.
      time("simjoin") {
        graft.operators.Dedup.simJoinOn(syntheticDocs(spark, n / 100), 0.5)
          .write.mode("overwrite").format("noop").save()
      },
      time("minhash_lsh") {
        graft.operators.Dedup
          .minhashLshPairsCheckedOn(syntheticDocs(spark, n / 100))
          .write.mode("overwrite").format("noop").save()
      },
      time("signlsh_neardup") {
        // planted pair: every 50th vector duplicates its predecessor
        // (cosine 1.0 ≥ τ); base vectors are near-orthogonal at 64-d
        val nVecs = math.max(n / 100, 1000L)
        val e = spark.range(nVecs)
          .select(col("id").as("vec_id"),
            when(col("id") % 50 === 49, col("id") - 1).otherwise(col("id"))
              .as("seed"))
          .select(col("vec_id"), expr(
            """transform(sequence(0, 63),
              |  d -> CAST(pmod(xxhash64(seed * 64 + d), 2001) - 1000
              |       AS DOUBLE) / 1000.0)""".stripMargin).as("v"))
          .withColumn("nrm", sqrt(expr(
            "aggregate(v, CAST(0.0 AS DOUBLE), (s, x) -> s + x * x)")))
        // bits0 = 0: the PRODUCTION path now derives the sketch width from
        // the corpus count itself (Similarity.autoBits, ~25/bucket expected
        // occupancy) — the ladder measures the operator applying the tuning
        // rule, no hand-set bits. The frozen-bits control run (10.5→24→90 s
        // across 1×/2×/4× at 12 bits, candidates ∝ n²/2^bits) is what this
        // replaces; re-run it by passing an explicit bits0.
        graft.operators.Similarity.lshNearDupsCheckedOn(e)
          .write.mode("overwrite").format("noop").save()
      },
      time("ivf_neardup") {
        // same planted-pair corpus as signlsh_neardup, so the two
        // moderate-tau near-dup paths ladder on identical inputs; k from
        // the production constant-cell law, so the ladder measures the
        // operator applying its own tuning rule (candidates ~ T*np*c*n =
        // LINEAR under k = n/c; the first draft's sqrt(n) law measured
        // 790 s at the 100k rung from its 45*n^1.5 candidate constant)
        val nVecs = math.max(n / 100, 1000L)
        val e = spark.range(nVecs)
          .select(col("id").as("vec_id"),
            when(col("id") % 50 === 49, col("id") - 1).otherwise(col("id"))
              .as("seed"))
          .select(col("vec_id"), expr(
            """transform(sequence(0, 63),
              |  d -> CAST(pmod(xxhash64(seed * 64 + d), 2001) - 1000
              |       AS DOUBLE) / 1000.0)""".stripMargin).as("v"))
          .withColumn("nrm", sqrt(expr(
            "aggregate(v, CAST(0.0 AS DOUBLE), (s, x) -> s + x * x)")))
        graft.operators.Similarity
          .ivfNearDupsOn(e, graft.operators.Similarity.autoKNearDup(nVecs))
          .write.mode("overwrite").format("noop").save()
      },
      time("phash_neardup") {
        // planted pair: every 9th blob re-appears under a shifted id
        val nBlobs = math.max(n / 100, 1000L)
        val blobs = spark.range(nBlobs)
          .select(col("id").as("doc_id"),
            when(col("id") % 9 === 8, col("id") - 1).otherwise(col("id"))
              .as("seed"))
          .select(col("doc_id"), unhex(concat((0 until 4).map(i =>
            md5(concat(col("seed"), lit(s"#$i")))): _*)).as("media"))
        graft.operators.Multimodal.phashNearDupsOn(blobs)
          .write.mode("overwrite").format("noop").save()
      },
      time("kmeans_argmin_window") {
        import org.apache.spark.sql.expressions.Window
        val nVecs = math.min(n, 500000L)
        val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
          expr("""transform(sequence(0, 63),
                 |  d -> CAST(pmod(xxhash64(id * 64 + d), 2001) - 1000 AS DOUBLE) / 1000.0)"""
            .stripMargin).as("v"))
        val cent = vecs.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("v").as("c"))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("dist2"), col("cid"))
        vecs.crossJoin(broadcast(cent))
          .withColumn("dist2", expr(
            """aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)),
              |          CAST(0.0 AS DOUBLE), (s, t) -> s + t)""".stripMargin))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("vec_id"), col("cid"), col("dist2"))
          .write.mode("overwrite").format("noop").save()
      })
      .filter(_._2 >= 0)

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"stress_total","value":${results.map(_._2).sum},"unit":"sec","n":$n,"keys":$nKeys,"queries":$qs}""")
    spark.stop()
  }
}
