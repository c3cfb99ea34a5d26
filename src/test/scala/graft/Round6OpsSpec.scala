package graft

import graft.operators.{Curation, Relational, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-6 operators: the log-idf BM25 production scorer pinned against its
  * hash-checked rational-idf twin (q_t10 / q_t10b — the x2/x2b pattern),
  * and the product-quantization build/search pair (q_y7 / q_y8). */
class Round6OpsSpec extends SparkSpec {

  test("pq build: every vector coded in every subspace, inertia non-negative") {
    val r = Similarity.pqBuild(spark, sf()).cache()
    val n = G.table(spark, sf(), "embeddings").count()
    val m = 8
    assert(r.count() > 0 && r.count() <= m * 16)
    // each of the m subspaces codes all n vectors exactly once
    val perSub = r.groupBy(col("m")).agg(sum(col("n_vecs")).as("s"))
      .collect().map(_.getLong(1))
    assert(perSub.length == m && perSub.forall(_ == n))
    assert(r.filter(col("inertia") < 0.0).count() == 0)
    r.unpersist()
  }

  test("pq search: 5 ADC neighbors per query, distances non-negative and ranked") {
    val r = Similarity.pqSearch(spark, sf()).cache()
    assert(r.count() == 50) // 10 queries x top-5
    assert(r.filter(col("adist") < 0.0).count() == 0)
    // ranks are 1..5 per query and adist is non-decreasing in rank
    val byQ = r.collect().groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5))
      val d = sorted.map(_.getDouble(3))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b })
    }
    r.unpersist()
  }

  test("fuzzy decontamination: every planted bench near-dup is recovered") {
    val r = Curation.fuzzyDecontaminate(spark, sf()).cache()
    // planted: bench doc (id+3000000) is its source train doc minus the
    // first token -> jaccard (n-3)/(n-2) for n tokens, well above 0.5 for
    // any doc with >= 5 tokens; LSH banding must recover ALL of them
    val planted = G.table(spark, sf(), "documents")
      .filter(col("doc_id") % 53 === 0 &&
        size(split(col("text"), "\\s+")) >= 5)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val found = r.filter(col("bench_id") - 3000000 === col("train_id"))
      .select(col("train_id")).collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty && planted.subsetOf(found),
      s"missed planted contamination: ${planted -- found}")
    assert(r.filter(col("jaccard") < 0.5 || col("jaccard") > 1.0).count() == 0)
    r.unpersist()
    spark.catalog.clearCache()
  }

  test("bm25 log-idf twin: same hit set, consistent ranking with q_t10") {
    val rat = TextAnalysis.bm25(spark, sf())
      .select(col("doc_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val log = TextAnalysis.bm25LogIdf(spark, sf())
      .select(col("doc_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rat.nonEmpty)
    // identical hit sets (the idf choice never changes WHICH docs match)
    assert(rat.map(_._1).toSet == log.map(_._1).toSet)
    // all scores strictly positive under both idfs (df <= N)
    assert(log.forall(_._2 > 0.0))
    // ranking agreement: ln is monotone per TERM, but a sum of per-term
    // monotone transforms is not monotone in the sum, so docs with
    // different term mixes can swap locally (measured: first swap at
    // rank 5 on sf0.001). Pin what actually holds: the head of the
    // ranking and near-total rank correlation.
    assert(rat.map(_._1).take(5) == log.map(_._1).take(5))
    val rr = rat.map(_._1).zipWithIndex.toMap
    val lr = log.map(_._1).zipWithIndex.toMap
    val n = rr.size.toDouble
    val d2 = rr.map { case (id, r) =>
      val d = (r - lr(id)).toDouble; d * d }.sum
    val rho = 1.0 - 6.0 * d2 / (n * (n * n - 1.0))
    assert(rho > 0.99, s"spearman rho $rho")
  }

  test("batch retrieval: per-query top-k ranked, scores agree with q_t10 shape") {
    val r = TextAnalysis.batchRetrieve(spark, sf()).cache()
    val rows = r.collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(1L, 2L, 3L))
    byQ.values.foreach { qs =>
      val sorted = qs.sortBy(_.getInt(1))
      // ranks are 1..k and scores are non-increasing in rank
      assert(sorted.map(_.getInt(1)).toSeq == (1 to qs.length))
      assert(qs.length <= 10)
      val s = sorted.map(_.getDouble(3))
      assert(s.zip(s.tail).forall { case (a, b) => a >= b })
      // every hit matched at least one term, at most the query's 3
      assert(sorted.forall(x => x.getLong(4) >= 1 && x.getLong(4) <= 3))
    }
    // ONE corpus pass for three queries: like q_t10 (Round5OpsSpec), the
    // tokenize explode lives inside the cached tf build, so the outer plan
    // has NO Generate and reads tf from the in-memory relation
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try {
        val d = TextAnalysis.batchRetrieve(spark, sf())
        d.collect(); d.queryExecution.executedPlan
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val gens = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.isEmpty,
      s"corpus explode leaked out of the cached tf build:\n$plan")
    assert(plan.toString.contains("InMemoryTableScan"),
      s"tf not served from cache:\n$plan")
    r.unpersist()
    spark.catalog.clearCache()
  }

  test("streaming dedup replay == batch parse (INSERT IGNORE, cross-batch state)") {
    val streamed = graft.streaming.StreamingJobs.dedupReplay(spark, sf())
      .collect()
    val batch = graft.operators.CdcParser.cdcParseRoundtripSorted(spark, sf())
      .collect()
    assert(streamed.length == batch.length)
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq)
  }

  test("semdedup: removals are within-cluster, lower-id kept, above tau") {
    val sd = Similarity.semDedup(spark, sf()).cache()
    val rows = sd.collect()
    assert(rows.nonEmpty)
    rows.foreach { x =>
      val (vec, kept, nDups, maxSim) =
        (x.getLong(0), x.getLong(2), x.getLong(3), x.getDouble(4))
      assert(kept < vec, s"representative must precede the removed vector")
      assert(nDups >= 1)
      assert(maxSim >= 0.35 && maxSim <= 1.0 + 1e-9)
    }
    // removed ids are distinct (one verdict per vector)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    sd.unpersist()
    spark.catalog.clearCache()
  }

  test("data-quality gates: profile invariants and clean-table constraints") {
    val prof = graft.operators.Validation.profile(spark, sf()).collect()
    assert(prof.map(_.getString(0)).toSeq ==
      Seq("event_id", "event_type", "props", "user_id", "value"))
    val n = prof.head.getLong(1)
    prof.foreach { r =>
      assert(r.getLong(1) == n)                      // one shared row count
      assert(r.getLong(2) >= 0 && r.getLong(2) <= n) // n_null bounded
      assert(r.getLong(3) >= 1 && r.getLong(3) <= n) // n_distinct bounded
    }
    val byCol = prof.map(r => r.getString(0) -> r).toMap
    assert(byCol("event_id").getLong(3) == n)        // ids unique
    assert(byCol("event_type").getLong(3) <= 5)      // closed domain
    assert(byCol("event_type").isNullAt(4))          // no numeric min for strings
    val cons = graft.operators.Validation.constraints(spark, sf()).collect()
    assert(cons.length == 5)
    // the generated table is clean: every rule passes outright
    cons.foreach { r =>
      assert(r.getLong(2) == 0L, s"rule ${r.getString(0)} has violations")
      assert(r.getDouble(3) == 1.0)
    }
  }

  test("plan audit: semdedup broadcasts centroids, never cross-joins the corpus pairs") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the k-means BUILD (behind the session memo since the shared-
      // intermediate rework): centroids reach the corpus via broadcast
      val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
      val (assign, _) = Similarity.lloyd(e, 8, 2)
      assign.collect()
      val bstr = assign.queryExecution.executedPlan.toString
      assert(bstr.contains("BroadcastNestedLoopJoin") ||
        bstr.contains("BroadcastHashJoin"), s"centroids not broadcast:\n$bstr")
      // the CONSUMER: semDedup reads the materialized shared assignment
      // (no rebuild in its plan) and its pair stage is the cid-keyed
      // equi-join, NOT an all-pairs product
      val d = Similarity.semDedup(spark, sf())
      d.collect()
      val str = d.queryExecution.executedPlan.toString
      assert(str.contains("ExistingRDD"),
        s"semdedup did not consume the materialized assignment:\n$str")
      assert(!str.contains("CartesianProduct"),
        s"within-cluster pair scan degraded to all-pairs:\n$str")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("plan audit: profile + constraints are each ONE scan of events") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq(graft.operators.Validation.profile(spark, sf()),
        graft.operators.Validation.constraints(spark, sf())).foreach { d =>
        d.collect()
        val scans = d.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        assert(scans.length == 1,
          s"expected a single events scan, got ${scans.length}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("salted join result == plain join (key refinement, no row drift)") {
    val salted = Relational.saltedSupplierRevenue(spark, sf()).collect()
    val li = G.table(spark, sf(), "lineitem")
    val sup = G.table(spark, sf(), "supplier")
    val plain = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(G.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("s_nationkey")).collect()
    assert(salted.length == plain.length && salted.nonEmpty)
    salted.zip(plain).foreach { case (a, b) =>
      assert(a.getAs[Number](0).longValue == b.getAs[Number](0).longValue)
      assert(a.getDouble(1) == b.getDouble(1)) // DECIMAL-exact: bit equality
      assert(a.getLong(2) == b.getLong(2))
    }
  }
}
