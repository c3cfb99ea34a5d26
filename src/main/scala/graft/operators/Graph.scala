package graft.operators

import graft.G
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over relation-derived graphs — the family
  * the near-dup clustering (Dedup.dedupClusters), PageRank (Dedup.pageRank)
  * and canonical-doc selection started; this file holds the operators whose
  * input graph is built from the relational tables rather than dedup pairs.
  *
  * Everything is expressed as joins + aggregations so Catalyst plans the
  * shuffles: no vertex-program framework, no driver-side adjacency, and
  * every intermediate keyed by a vertex or edge id.
  */
object Graph {

  /** The co-purchase graph shared by every operator in this file (and
    * mirrored verbatim in each oracle's `edges` CTE): two parts are
    * adjacent iff some order contains BOTH in bulk (quantity >= 30);
    * distinct undirected (u < v) edges. One definition, ten consumers —
    * changing the graph means changing exactly this and the SQL CTEs. */
  private val coPurchase = new graft.Artifact("copurchase_edges", 2)
  private[graft] def coPurchaseEdges(spark: SparkSession,
      dir: String): DataFrame =
    coPurchase(spark, dir) {
      val li = G.table(spark, dir, "lineitem")
        .filter(col("l_quantity") >= 30)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val a = li.select(col("ok"), col("pk").as("u"))
      val b = li.select(col("ok"), col("pk").as("v"))
      a.join(b, "ok").filter(col("u") < col("v"))
        .select(col("u"), col("v")).distinct()
    }

  /** q_g1: per-node triangle count + local clustering coefficient over the
    * co-purchase graph (two parts are adjacent iff some order contains
    * both). Triangle counting is THE canonical "Spark has no operator for
    * this" graph kernel; the scalable formulation is degree-ordered edge
    * orientation (each edge points from its (degree, id)-smaller endpoint
    * to the larger), which makes every triangle countable exactly once at
    * its minimum-degree vertex and bounds per-vertex wedge fan-out by
    * O(√E) instead of the max raw degree — the difference between a
    * power-law hub exploding the wedge join and a plan that survives it.
    *
    * Plan: one self-join on l_orderkey builds candidate pairs (quadratic
    * in basket size, which TPC-H bounds at 7 lines/order; a real basket
    * graph would cap/salt hot orders first — Skew.capBuckets is that
    * lever), one distinct, two broadcast-sized degree joins, then the
    * wedge self-join and the closing-edge join, both keyed. Per-node
    * counts explode each triangle to its three corners — O(3·triangles)
    * rows, never materializing adjacency lists.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    // bulk lines only (quantity >= 30): the unfiltered co-purchase graph is
    // near-complete at TPC-H's 2000-parts-per-60k-lines density (41 M wedges
    // at sf0.1 — measured), which tests nothing but join throughput; the
    // scoped graph keeps ~200k edges / 63k triangles at sf0.1.
    // Round-11 (guide §2.4): consume the SHARED co-purchase edge artifact
    // like every other g-family operator instead of re-running the basket
    // self-join + distinct per execution — the edge definition here was
    // character-identical to [[coPurchaseEdges]]. Removes the lineitem
    // scan, the ok-keyed exchange pair and the distinct exchange from
    // every execution (plan: 53 Exchange → see plans/r11/q_g1_triangles).
    trianglesFromEdges(coPurchaseEdges(spark, dir))

  /** Core kernel on a (ok, pk) basket frame — shared by the q_g1 query and
    * the graft.Stress `triangles` ladder stage. */
  private[graft] def trianglesFromBaskets(li: DataFrame): DataFrame = {
    val a = li.select(col("ok"), col("pk").as("u"))
    val b = li.select(col("ok"), col("pk").as("v"))
    // edges feeds deg + oriented: cache (the LSH-bucket-frame pattern) or
    // every reuse re-runs the basket self-join from the scan.
    trianglesFromEdges(a.join(b, "ok").filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct().cache())
  }

  /** Triangle kernel on a distinct undirected (u < v) edge frame. */
  private[graft] def trianglesFromEdges(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .union(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

    val lower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        when(lower, col("u")).otherwise(col("v")).as("src"),
        when(lower, col("v")).otherwise(col("u")).as("dst"),
        when(lower, col("dv")).otherwise(col("du")).as("ddst"))
      .cache()

    val wedges = oriented.select(col("src"), col("dst").as("v"),
        col("ddst").as("dv2"))
      .join(oriented.select(col("src"), col("dst").as("w"),
        col("ddst").as("dw2")), "src")
      .filter(col("dv2") < col("dw2") ||
        (col("dv2") === col("dw2") && col("v") < col("w")))
    val tri = wedges
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
      .select(col("src").as("ta"), col("v").as("tb"), col("w").as("tc"))

    tri.select(explode(array(col("ta"), col("tb"), col("tc"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tri"))
      .join(deg, "n")
      .withColumn("cc",
        lit(2.0) * col("n_tri") / (col("deg") * (col("deg") - 1)))
      .select(col("n").as("part_id"), col("deg"), col("n_tri"), col("cc"))
      .orderBy(col("part_id"))
  }

  /** q_g2: common-neighbor similarity ("customers who bought X also
    * bought Y") — for part pairs sharing ≥ 3 co-purchase neighbors, the
    * common-neighbor count and neighborhood Jaccard
    * `common / (deg_u + deg_v − common)`, top-100 by strength. The
    * link-prediction / recommendation kernel over the same bulk
    * co-purchase graph as q_g1.
    *
    * Enumerating common neighbors IS the wedge set, so the cost is the
    * inherent Σ C(deg, 2); what keeps it scalable is that the wedge join
    * output never materializes adjacency lists (two long columns per row),
    * partial aggregation combines wedge counts map-side before the one
    * keyed exchange on the pair, and the top-100 runs as
    * TakeOrderedAndProject (per-partition heap + driver merge), never a
    * global sort. Degree lookups broadcast (O(nodes) rows). */
  def alsoBought(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val adj = edges.select(col("u").as("c"), col("v").as("n"))
      .union(edges.select(col("v").as("c"), col("u").as("n"))).cache()
    val deg = adj.groupBy(col("c")).agg(count(lit(1)).as("deg"))
    adj.select(col("c"), col("n").as("x"))
      .join(adj.select(col("c"), col("n").as("y")), "c")
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("common"))
      .filter(col("common") >= 3)
      .join(broadcast(deg.select(col("c").as("x"), col("deg").as("dx"))), "x")
      .join(broadcast(deg.select(col("c").as("y"), col("deg").as("dy"))), "y")
      .withColumn("jaccard", col("common").cast("double") /
        (col("dx") + col("dy") - col("common")))
      .select(col("x").as("part_a"), col("y").as("part_b"), col("common"),
        col("jaccard"))
      .orderBy(col("common").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  val alsoBoughtSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |            WHERE l_quantity >= 30),
      |edges AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |adj AS (
      |  SELECT u AS c, v AS n FROM edges
      |  UNION ALL SELECT v AS c, u AS n FROM edges),
      |deg AS (SELECT c, count(*) AS deg FROM adj GROUP BY c),
      |pairs AS (
      |  SELECT a1.n AS x, a2.n AS y, count(*) AS common
      |  FROM adj a1 JOIN adj a2 ON a1.c = a2.c AND a1.n < a2.n
      |  GROUP BY x, y HAVING count(*) >= 3)
      |SELECT p.x AS part_a, p.y AS part_b, p.common,
      |  CAST(p.common AS DOUBLE) / (dx.deg + dy.deg - p.common) AS jaccard
      |FROM pairs p JOIN deg dx ON p.x = dx.c JOIN deg dy ON p.y = dy.c
      |ORDER BY p.common DESC, part_a, part_b
      |LIMIT 100""".stripMargin

  /** q_g3: community detection by synchronous label propagation — 3
    * deterministic rounds over the bulk co-purchase graph: every node
    * starts as its own label, then adopts the most frequent label among
    * its neighbors, ties broken by smallest label. The semi-synchronous
    * update with a total-order tie-break makes classic LPA (normally
    * randomized and order-dependent) bit-reproducible, the same move that
    * made the k-means build (y6) and PageRank (c15) oracle-checkable.
    *
    * Per round: one keyed join (adjacency ⋈ labels, both sides hashed on
    * node), one (node, label) hash-agg with map-side partials, and one
    * row_number window keyed by node — nothing global, state is one long
    * per node. Rounds are data-independent (fixed 3), so the oracle
    * replays them as unrolled CTEs. Output is the community-size
    * histogram. */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    // Round-12 MEASURED AND REJECTED: RDD rounds (the kcore/x6 move — one
    // HashPartitioner, narrow adjacency⋈labels join, two reduceByKey
    // shuffles of longs per round) were implemented and A/B'd within one
    // JVM against this Catalyst loop: warm, the Catalyst loop WINS
    // (2.17-2.30 s vs 2.49-2.95 s steady-state; only the first Catalyst
    // execution is slower, ~4.5 s of codegen JIT). Unlike kcore's
    // filter-and-count rounds, g3's (node, label) count + argmax pair
    // fuses into whole-stage codegen that beats the RDD path's 6 shuffle
    // actions + per-round cache materialization. The bench's occasional
    // ~4 s readings for g3 are first-pass JIT + box noise, not plan cost.
    val adj = edges.select(col("u").as("c"), col("v").as("nb"))
      .union(edges.select(col("v").as("c"), col("u").as("nb"))).cache()
    var labels = adj.select(col("c").as("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
    for (_ <- 1 to 3) {
      // argmax by (cnt desc, lbl asc) as ONE aggregate: max of the
      // (cnt, -lbl) struct — same winner as the row_number formulation
      // the oracle replays, but with map-side partial combine instead of
      // a per-node sort window (one fewer wide sort per round)
      labels = adj
        .join(labels.select(col("n").as("nb"), col("lbl")), "nb")
        .groupBy(col("c"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("c"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("top"))
        .select(col("c").as("n"), (-col("top.neg")).as("lbl"))
    }
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("community"))
  }

  val labelPropSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT c AS n, lbl FROM (
         |    SELECT a.c, p.lbl, count(*) AS cnt,
         |      row_number() OVER (PARTITION BY a.c
         |        ORDER BY count(*) DESC, p.lbl) AS rk
         |    FROM adj a JOIN $prev p ON a.nb = p.n
         |    GROUP BY a.c, p.lbl) t
         |  WHERE rk = 1)""".stripMargin
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |            WHERE l_quantity >= 30),
       |edges AS (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |adj AS (
       |  SELECT u AS c, v AS nb FROM edges
       |  UNION ALL SELECT v AS c, u AS nb FROM edges),
       |l0 AS (SELECT DISTINCT c AS n, c AS lbl FROM adj),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")}
       |SELECT lbl AS community, count(*) AS n_members
       |FROM l3 GROUP BY lbl ORDER BY community""".stripMargin
  }

  /** q_g4: k-CORE decomposition (k=10) by synchronous bounded peeling —
    * the densest-subgraph quality filter (a node is in the 10-core iff it
    * keeps ≥ 10 neighbors after everything below that bar is recursively
    * removed). 4 peel rounds: each recomputes degrees WITHIN the surviving
    * set and drops nodes under k. Bounded rounds keep the oracle an exact
    * unrolled replay (the c15/g3 move); Round7OpsSpec pins that round 4 is
    * the true fixpoint on this graph (round 5 changes nothing), so the
    * bounded result IS the 10-core, not an approximation of it.
    *
    * Per round: two semi-joins key adjacency to the alive set (hash on
    * node, no payload), one count agg with map-side partials, one filter —
    * nothing global, state one long per node. At 100 TB the same rounds
    * apply; peel depth grows with graph diameter, not data volume (the
    * measured co-purchase graphs converge in 3–4 rounds at 10× spread). */
  def kcore(spark: SparkSession, dir: String): DataFrame =
    kcoreRounds(spark, dir, 4)

  /** Bounded-round body; Round7OpsSpec runs rounds and rounds+1 and
    * asserts equality — the proof that the bound reaches the fixpoint.
    *
    * The rounds run on co-partitioned RDDs, not Catalyst (the c10/x6
    * lesson: a DataFrame loop pays per-round re-planning + codegen
    * recompilation — the first cut of THIS loop measured 7.4 s at sf0.1
    * vs ~3 s as RDD rounds). One HashPartitioner is built once; adjacency
    * is cached twice, keyed by each endpoint, so every round is two
    * NARROW joins against the alive set plus ONE reduceByKey shuffle of
    * (node, 1) longs. Entry and exit are DataFrames. */
  private[graft] def kcoreRounds(spark: SparkSession, dir: String,
      rounds: Int): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    kcoreFromEdges(edges, rounds)
  }

  /** RDD-round kernel on any distinct (u, v) edge frame — shared by the
    * query and the graft.Stress `kcore` ladder stage. */
  private[graft] def kcoreFromEdges(edges: DataFrame,
      rounds: Int): DataFrame = {
    val spk = edges.sparkSession
    import spk.implicits._
    val part = new org.apache.spark.HashPartitioner(
      spk.sparkContext.defaultParallelism)
    // adjacency keyed by the DEGREE-COUNTING endpoint (c) and by the
    // NEIGHBOR endpoint (nb): both sides of every round's joins are then
    // already on `part`, so only the per-round degree reduce shuffles
    val adjN = edges.as[(Long, Long)].rdd
      .flatMap { case (u, v) => Seq((u, v), (v, u)) } // (nb, c)
      .partitionBy(part).cache()
    var alive = adjN.mapValues(_ => 1L).reduceByKey(part, _ + _).cache()
    alive.count()
    for (_ <- 1 to rounds) {
      val next = adjN.join(alive) // neighbor alive?  (narrow)
        .map { case (_, (c, _)) => (c, 1L) }
        .reduceByKey(part, _ + _) // degree within alive  (1 shuffle)
        .join(alive)              // center alive?  (narrow)
        .filter { case (_, (deg, _)) => deg >= 10 }
        .mapValues { case (deg, _) => deg }
        .cache()
      next.count()
      alive.unpersist()
      alive = next
    }
    alive.toDF("part_id", "core_deg").orderBy(col("part_id"))
  }

  /** q_g5: multi-source BFS — minimum hop distance from a seed set (all
    * co-purchase-graph nodes of one part brand) out to radius 3. The
    * bounded-radius neighborhood query behind "related products within N
    * hops" / graph-expansion curation (pull every doc within k links of a
    * trusted seed set); radius is a CONTRACT bound (like x4/x9's bounded
    * kernels), not a convergence claim — 3 rounds answer the 3-hop
    * question exactly, they do not claim the frontier died.
    *
    * Same execution shape as the k-core peel (kcoreFromEdges): one
    * HashPartitioner built once; adjacency cached keyed by source; each
    * round is one narrow join (frontier ⋈ adjacency, both co-partitioned),
    * ONE reduceByKey(min) shuffle of (node, dist) longs, and a narrow
    * fullOuterJoin folding the relaxed distances back into the running
    * map. Nothing global, state one long per node, round count fixed by
    * the radius — at 100 TB the per-round exchange still carries two longs
    * per touched node, and only nodes on the expanding frontier propagate.
    */
  def bfs(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val seeds = G.table(spark, dir, "part")
      .filter(col("p_brand") === "Brand#23")
      .select(col("p_partkey").as("s"))
    bfsFromEdges(edges, seeds, 3)
  }

  /** RDD-round kernel on any distinct (u, v) edge frame + seed frame —
    * shared by the query and the graft.Stress `bfs` ladder stage. */
  private[graft] def bfsFromEdges(edges: DataFrame, seeds: DataFrame,
      radius: Int): DataFrame = {
    val spk = edges.sparkSession
    import spk.implicits._
    val part = new org.apache.spark.HashPartitioner(
      spk.sparkContext.defaultParallelism)
    val adjC = edges.as[(Long, Long)].rdd
      .flatMap { case (u, v) => Seq((u, v), (v, u)) } // (c, nb)
      .partitionBy(part).cache()
    // distinct graph nodes, co-partitioned; seeds restricted to them so a
    // brand part that never sold in bulk cannot seed a phantom component
    val nodes = adjC.mapValues(_ => 1L).reduceByKey(part, (x, _) => x)
    val seedR = seeds.as[Long].rdd.map((_, 0L)).partitionBy(part)
    var dist = nodes.join(seedR).mapValues(_ => 0L).cache()
    dist.count()
    for (_ <- 1 to radius) {
      val relaxed = adjC.join(dist) // co-partitioned: narrow
        .map { case (_, (nb, d)) => (nb, d + 1L) }
        .reduceByKey(part, (x: Long, y: Long) => math.min(x, y)) // the round's one shuffle
      val next = dist.fullOuterJoin(relaxed) // both on `part`: narrow
        .mapValues { case (d0, d1) =>
          math.min(d0.getOrElse(Long.MaxValue), d1.getOrElse(Long.MaxValue)) }
        .cache()
      next.count()
      dist.unpersist()
      dist = next
    }
    dist.toDF("part_id", "dist").orderBy(col("part_id"))
  }

  val bfsSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n, MIN(dist) AS dist FROM (
         |    SELECT n, dist FROM $prev
         |    UNION ALL
         |    SELECT a.nb AS n, d.dist + 1 AS dist
         |    FROM adj a JOIN $prev d ON a.c = d.n)
         |  GROUP BY n)""".stripMargin
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |            WHERE l_quantity >= 30),
       |edges AS (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |adj AS (
       |  SELECT u AS c, v AS nb FROM edges
       |  UNION ALL SELECT v AS c, u AS nb FROM edges),
       |d0 AS (
       |  SELECT DISTINCT a.c AS n, CAST(0 AS BIGINT) AS dist
       |  FROM adj a JOIN part p ON a.c = p.p_partkey
       |  WHERE p.p_brand = 'Brand#23'),
       |${round("d0", "d1")},
       |${round("d1", "d2")},
       |${round("d2", "d3")}
       |SELECT n AS part_id, dist FROM d3 ORDER BY part_id""".stripMargin
  }

  val kcoreSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT a.c, count(*) AS core_deg
         |  FROM adj a JOIN $prev x ON a.nb = x.c JOIN $prev y ON a.c = y.c
         |  GROUP BY a.c HAVING count(*) >= 10)""".stripMargin
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |            WHERE l_quantity >= 30),
       |edges AS (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |adj AS (
       |  SELECT u AS c, v AS nb FROM edges
       |  UNION ALL SELECT v AS c, u AS nb FROM edges),
       |k0 AS (SELECT DISTINCT c FROM adj),
       |${round("k0", "k1")},
       |${round("k1", "k2")},
       |${round("k2", "k3")},
       |${round("k3", "k4")}
       |SELECT c AS part_id, core_deg FROM k4 ORDER BY part_id""".stripMargin
  }

  /** q_g6: HITS hubs & authorities over the BIPARTITE customer→part
    * purchase graph (the c15 PageRank runs on the unipartite near-dup
    * graph; HITS is the two-sided ranking for two-mode data — "important
    * parts are bought by important customers, important customers buy
    * important parts"). Two unrolled rounds with sum-normalization after
    * every half-step: auth ← Σ hub over in-edges, hub ← Σ auth over
    * out-edges — the Kleinberg iteration with the same determinism levers
    * as c15: every Σ goes through DECIMAL(38,12) (order-independent,
    * hash-exact) and every normalizer is a broadcast scalar frame, so
    * three chained float rounds replay bit-identically in DuckDB.
    *
    * Plan per half-step: one keyed join (edges ⋈ scores, both hashed on
    * the shared key) + one keyed aggregate with map-side partials; the
    * normalizer is a 1-row aggregate broadcast back. The edge list is
    * cached once and reused by all half-steps; output is top-100
    * authorities via TakeOrderedAndProject. At 100 TB the per-round
    * exchange carries (id, double) pairs only — the Pregel shape in plain
    * DataFrames, like c15/g3. */
  /** The customer→part bipartite purchase graph under q_g6 — a
    * per-corpus-snapshot index like [[coPurchaseEdges]], built/published
    * once and read by every later execution (round-12; the per-execution
    * rebuild was ~1.4 s of g6's 3.1 s warm cost, HALF of it a duplicate:
    * PROF_JOBS showed the li⋈ord+distinct build running as two
    * simultaneous ~700 ms stage pairs, because the consumers launch
    * concurrent broadcast-subtree jobs and both raced past the lazy
    * cache() before either populated it). The eager localCheckpoint
    * materializes exactly once. */
  private val purchases = new graft.Artifact("hits_edges", 2)
  private def hitsEdges(spark: SparkSession, dir: String): DataFrame =
    purchases(spark, dir) {
      val li = G.table(spark, dir, "lineitem")
        .filter(col("l_quantity") >= 30)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      val ord = G.table(spark, dir, "orders")
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
      li.join(ord, "ok").select(col("c"), col("p")).distinct()
    }

  def hits(spark: SparkSession, dir: String): DataFrame = {
    val edges = hitsEdges(spark, dir)
    // round 1: hub0 = 1.0 for every customer, so auth1 = in-degree
    val a1 = edges.groupBy(col("p")).agg(count(lit(1)).as("deg"))
      .withColumn("a1", col("deg").cast("double"))
    val ta1 = a1.agg(graft.G.dsum(col("a1"), 12).as("t"))
    // localCheckpoint (eager): na1 feeds TWO consumers (h1's join and the
    // final deg join) and without exchange reuse its whole subtree — edge
    // scan, degree agg, normalizer broadcast — planned and ran twice.
    // Materializing the O(parts) frame once halves the normalizer BNLJs
    // (6 → 2 in the executed plan, pinned in Round14OpsSpec).
    val na1 = a1.crossJoin(broadcast(ta1))
      .select(col("p"), col("deg"), (col("a1") / col("t")).as("na1"))
      .localCheckpoint()
    val h1 = edges.join(na1.select(col("p"), col("na1")), "p")
      .groupBy(col("c")).agg(graft.G.dsum(col("na1"), 12).as("h1"))
    val th1 = h1.agg(graft.G.dsum(col("h1"), 12).as("t"))
    val nh1 = h1.crossJoin(broadcast(th1))
      .select(col("c"), (col("h1") / col("t")).as("nh1"))
    // round 2: authorities from the normalized hubs. Same two-consumer
    // shape as na1 (a2 feeds its own normalizer ta2 AND the final join), so
    // materialize once — the final plan carries exactly ONE normalizer BNLJ
    // (ta2's) instead of re-running the h1→nh1 chain inside ta2's subtree.
    val a2 = edges.join(nh1, "c")
      .groupBy(col("p")).agg(graft.G.dsum(col("nh1"), 12).as("a2"))
      .localCheckpoint()
    val ta2 = a2.agg(graft.G.dsum(col("a2"), 12).as("t"))
    a2.crossJoin(broadcast(ta2))
      .join(na1.select(col("p"), col("deg")), "p")
      .select(col("p").as("part_id"), col("deg").as("n_buyers"),
        (col("a2") / col("t")).as("authority"))
      .orderBy(col("authority").desc, col("part_id"))
      .limit(100)
  }

  val hitsSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |            WHERE l_quantity >= 30),
      |ord AS (SELECT o_orderkey AS ok, o_custkey AS c FROM orders),
      |edges AS (SELECT DISTINCT o.c, l.p FROM li l JOIN ord o ON l.ok = o.ok),
      |a1 AS (SELECT p, count(*) AS deg, CAST(count(*) AS DOUBLE) AS a1
      |       FROM edges GROUP BY p),
      |ta1 AS (SELECT CAST(CAST(SUM(CAST(a1 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS t
      |        FROM a1),
      |na1 AS (SELECT p, deg, a1 / ta1.t AS na1 FROM a1 CROSS JOIN ta1),
      |h1 AS (SELECT e.c,
      |         CAST(CAST(SUM(CAST(n.na1 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS h1
      |       FROM edges e JOIN na1 n ON e.p = n.p GROUP BY e.c),
      |th1 AS (SELECT CAST(CAST(SUM(CAST(h1 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS t
      |        FROM h1),
      |nh1 AS (SELECT c, h1 / th1.t AS nh1 FROM h1 CROSS JOIN th1),
      |a2 AS (SELECT e.p,
      |         CAST(CAST(SUM(CAST(x.nh1 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS a2
      |       FROM edges e JOIN nh1 x ON e.c = x.c GROUP BY e.p),
      |ta2 AS (SELECT CAST(CAST(SUM(CAST(a2 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS t
      |        FROM a2)
      |SELECT a2.p AS part_id, n.deg AS n_buyers, a2.a2 / ta2.t AS authority
      |FROM a2 CROSS JOIN ta2 JOIN na1 n ON a2.p = n.p
      |ORDER BY authority DESC, part_id
      |LIMIT 100""".stripMargin

  /** q_g7: PERSONALIZED PageRank — random-walk-with-restart proximity to
    * a seed set (one part brand) over the bulk co-purchase graph: the
    * "related to THESE products" ranking, where c15's global PageRank
    * answers "central overall". PPR is the graph-expansion curation
    * scorer (pull documents/products by proximity to a trusted seed set,
    * the continuous-valued cousin of g5's radius-3 BFS) and the classic
    * recommendation walk (Pixie/SALSA lineage).
    *
    * Three damped rounds r ← 0.15·seed + 0.85·AᵀD⁻¹r, restart mass
    * uniform on seeds. Mass stays SPARSE: r₀ lives only on the seeds and
    * each round's support grows exactly one hop — the frames carry
    * touched nodes only, never the full node set (at 100 TB the walk
    * frontier is the working set, like g5's BFS). Per round: one keyed
    * join (adjacency ⋈ ranks co-hashed on the source) + one keyed
    * aggregate.
    *
    * Determinism: FIXED-POINT, not DECIMAL-summed floats. Rank mass is
    * BIGINT micro-units (10⁻¹² of total mass); r/deg and the damping
    * factors are integer divisions (truncation — identical in both
    * engines on non-negative values), sums are exact BIGINT adds, and
    * only the final report divides by 10¹². c15/g6 chain float rounds
    * through DECIMAL(38,12) sums and happen to replay exactly, but the
    * double→DECIMAL cast rounds through the SHORTEST DECIMAL STRING on
    * the JVM and through the exact binary value in DuckDB — for rare
    * values (~1e-5 of casts) those disagree by one 10⁻¹² ulp, and an
    * iterated walk amplifies one such landmine across every downstream
    * node (observed here before the switch: three nodes off by exactly
    * 0.85·10⁻¹²). Integer fixed-point removes the cast entirely; the
    * quantization error (≤ 10⁻¹² per op, biased down) is far below any
    * ranking use. Output: top-100 by proximity via
    * TakeOrderedAndProject. */
  def ppr(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val adj = edges.select(col("u").as("c"), col("v").as("nb"))
      .unionByName(edges.select(col("v").as("c"), col("u").as("nb")))
      .cache()
    val deg = adj.groupBy(col("c")).agg(count(lit(1)).as("deg")).cache()
    // seeds restricted to graph nodes (the g5 rule: a brand part that
    // never sold in bulk cannot seed phantom mass)
    val seeds = G.table(spark, dir, "part")
      .filter(col("p_brand") === "Brand#23")
      .select(col("p_partkey").as("node"))
      .join(deg.select(col("c").as("node")), "node")
      .select(col("node"), lit(1L).as("s")).cache()
    val nS = seeds.count()
    val unit = 1000000000000L
    val seedU = unit / nS            // exact integer division, both engines
    val restartU = 15L * seedU / 100L
    var ranks = seeds.select(col("node"), lit(seedU).as("r"))
    for (_ <- 1 to iters) {
      val contrib = adj
        .join(ranks, adj("c") === ranks("node"))
        .join(deg, "c")
        .groupBy(col("nb").as("node"))
        .agg(sum(expr("r DIV deg")).as("contrib"))
      ranks = contrib.join(seeds, Seq("node"), "full_outer")
        .select(col("node"),
          (when(col("s").isNotNull, lit(restartU)).otherwise(lit(0L)) +
            expr("(85 * coalesce(contrib, 0)) DIV 100")).as("r"))
    }
    ranks.join(deg, col("node") === col("c"))
      .select(col("node").as("part_id"), col("deg"),
        (col("r").cast("double") / lit(1.0e12)).as("ppr"))
      .orderBy(col("ppr").desc, col("part_id"))
      .limit(100)
  }

  val pprSql: String = {
    def round(prev: String, r: Int): String =
      s"""c$r AS (
         |  SELECT a.nb AS node, CAST(SUM(p.r // d.deg) AS BIGINT) AS contrib
         |  FROM adj a JOIN $prev p ON a.c = p.node JOIN deg d ON a.c = d.c
         |  GROUP BY a.nb),
         |r$r AS (
         |  SELECT coalesce(c.node, s.node) AS node,
         |    (CASE WHEN s.node IS NOT NULL
         |          THEN (15 * (1000000000000 // ns.n)) // 100
         |          ELSE 0 END)
         |      + (85 * coalesce(c.contrib, 0)) // 100 AS r
         |  FROM c$r c FULL JOIN seeds s ON c.node = s.node CROSS JOIN ns)""".stripMargin
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |            WHERE l_quantity >= 30),
       |edges AS (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |adj AS (
       |  SELECT u AS c, v AS nb FROM edges
       |  UNION ALL SELECT v AS c, u AS nb FROM edges),
       |deg AS (SELECT c, count(*) AS deg FROM adj GROUP BY c),
       |seeds AS (
       |  SELECT DISTINCT d.c AS node FROM deg d
       |  JOIN part p ON d.c = p.p_partkey
       |  WHERE p.p_brand = 'Brand#23'),
       |ns AS (SELECT count(*) AS n FROM seeds),
       |r0 AS (SELECT node, 1000000000000 // ns.n AS r
       |       FROM seeds CROSS JOIN ns),
       |${(1 to 3).map(r => round(s"r${r - 1}", r)).mkString(",\n")}
       |SELECT r3.node AS part_id, d.deg,
       |  CAST(r3.r AS DOUBLE) / 1e12 AS ppr
       |FROM r3 JOIN deg d ON r3.node = d.c
       |ORDER BY ppr DESC, part_id
       |LIMIT 100""".stripMargin
  }

  val trianglesSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |            WHERE l_quantity >= 30),
      |edges AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (
      |  SELECT n, count(*) AS deg FROM (
      |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
      |  GROUP BY n),
      |oriented AS (
      |  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS src,
      |         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS dst,
      |         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg END AS ddst
      |  FROM edges e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
      |wedges AS (
      |  SELECT o1.src, o1.dst AS v, o2.dst AS w
      |  FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
      |  WHERE (o1.ddst, o1.dst) < (o2.ddst, o2.dst)),
      |tri AS (
      |  SELECT wg.src AS ta, wg.v AS tb, wg.w AS tc
      |  FROM wedges wg JOIN oriented o ON wg.v = o.src AND wg.w = o.dst),
      |pern AS (
      |  SELECT n, count(*) AS n_tri FROM (
      |    SELECT ta AS n FROM tri UNION ALL SELECT tb AS n FROM tri
      |    UNION ALL SELECT tc AS n FROM tri)
      |  GROUP BY n)
      |SELECT p.n AS part_id, d.deg, p.n_tri,
      |  2.0 * p.n_tri / (d.deg * (d.deg - 1)) AS cc
      |FROM pern p JOIN deg d ON p.n = d.n
      |ORDER BY part_id""".stripMargin

  /** q_g9: DEGREE DISTRIBUTION of the co-purchase graph in log₂ buckets —
    * the first diagnostic run on any production graph before choosing an
    * algorithm or a partitioner: a heavy-tailed bucket profile says
    * "salt the hubs" (r20/v11) and predicts wedge-count blowup for g1/g2;
    * the bucket histogram is also the O(log n)-row artifact that still
    * merges across partitions and snapshots at 100 TB (the a20 mergeable-
    * histogram move, applied to graphs).
    *
    * Exactness: bucket = ⌊log₂ deg⌋ via `length(bin(deg)) − 1` — a string
    * length, zero float arithmetic (the a20 trick), with the bucket's
    * [2^b, 2^{b+1}) bounds reconstructed by integer shifts. One keyed agg
    * for degrees, one 20-ish-key agg for buckets; edges never rescanned. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val deg = edges.select(col("u").as("n"))
      .union(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    deg
      .withColumn("bucket", (length(bin(col("deg"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"),
        sum(col("deg")).cast("long").as("sum_deg"))
      .withColumn("bucket_lo",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))"))
      .select(col("bucket"), col("bucket_lo"), col("n_nodes"),
        col("min_deg"), col("max_deg"), col("sum_deg"))
      .orderBy(col("bucket"))
  }

  /** q_g10: degree ASSORTATIVITY of the co-purchase graph — Newman's
    * degree-correlation coefficient, THE summary statistic after g9's
    * distribution: hub-to-hub wiring (r > 0) vs hub-to-leaf (r < 0)
    * decides whether salting hot keys (v11/r20) helps or the hubs drag
    * their whole neighborhoods with them. For an UNDIRECTED graph the
    * Pearson form collapses to r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²)
    * over symmetrized edge endpoints (Σx = Σy by symmetry — no square
    * root survives), so every term is an EXACT INTEGER sum of degree
    * products (DECIMAL(38,0) against overflow) and r is ONE division:
    * hash-exact cross-engine, the g7 no-transcendentals rule.
    *
    * Plan: the degree frame (one keyed agg) joined to both edge
    * endpoints, then one scalar aggregate — O(edges) longs, two
    * broadcast-or-hash joins, nothing quadratic. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val deg = edges.select(col("u").as("n"))
      .union(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val sym = edges
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .join(deg.select(col("n").as("u"), col("deg").as("x")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("y")), "v")
    def dsum0(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,0)"))
    sym.agg(
        count(lit(1)).as("n_endpoints"),
        dsum0(col("x")).as("sx"),
        dsum0(col("x") * col("y")).as("sxy"),
        dsum0(col("x") * col("x")).as("sx2"))
      .select(col("n_endpoints"),
        col("sx").cast("long").as("sum_deg"),
        col("sxy").cast("long").as("sum_xy"),
        col("sx2").cast("long").as("sum_x2"),
        ((col("n_endpoints") * col("sxy") - col("sx") * col("sx"))
          .cast("double") /
          (col("n_endpoints") * col("sx2") - col("sx") * col("sx"))
            .cast("double")).as("assortativity"))
  }

  val assortativitySql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |            WHERE l_quantity >= 30),
      |edges AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (
      |  SELECT n, count(*) AS deg FROM (
      |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
      |  GROUP BY n),
      |sym AS (
      |  SELECT e.u, e.v FROM edges e
      |  UNION ALL SELECT e.v, e.u FROM edges e),
      |j AS (
      |  SELECT du.deg AS x, dv.deg AS y
      |  FROM sym JOIN deg du ON sym.u = du.n JOIN deg dv ON sym.v = dv.n),
      |s AS (
      |  SELECT count(*) AS n_endpoints,
      |    sum(CAST(x AS DECIMAL(38,0))) AS sx,
      |    sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
      |    sum(CAST(x AS DECIMAL(38,0)) * x) AS sx2
      |  FROM j)
      |SELECT n_endpoints, CAST(sx AS BIGINT) AS sum_deg,
      |  CAST(sxy AS BIGINT) AS sum_xy, CAST(sx2 AS BIGINT) AS sum_x2,
      |  CAST(n_endpoints * sxy - sx * sx AS DOUBLE) /
      |    CAST(n_endpoints * sx2 - sx * sx AS DOUBLE) AS assortativity
      |FROM s""".stripMargin

  val degreeHistogramSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |            WHERE l_quantity >= 30),
      |edges AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (
      |  SELECT n, count(*) AS deg FROM (
      |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
      |  GROUP BY n),
      |bk AS (SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket, deg
      |       FROM deg)
      |SELECT bucket, CAST(1 AS BIGINT) << CAST(bucket AS INT) AS bucket_lo,
      |  count(*) AS n_nodes,
      |  CAST(min(deg) AS BIGINT) AS min_deg,
      |  CAST(max(deg) AS BIGINT) AS max_deg,
      |  CAST(sum(deg) AS BIGINT) AS sum_deg
      |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q_g11: Newman MODULARITY of the co-purchase graph under the brand
    * partition — Q = Σ_c (e_c/m − (d_c/2m)²), the quality score that says
    * whether a community assignment (here: each part's brand) explains the
    * wiring better than chance. All inputs are exact integers (intra-edge
    * counts, degree sums, total edge count); the two divisions and one
    * square run the same IEEE double ops on both engines, so the result is
    * hash-exact. Per-brand rows expose the decomposition (e_in, d_sum,
    * contribution); m broadcasts as a one-row frame — no collect. Scale:
    * edges shuffle on (u, v) once for distinct, degrees shuffle node ids
    * only, and the brand map is a broadcast dimension. */
  def modularity(spark: SparkSession, dir: String): DataFrame =
    modularityOf(spark, dir, coPurchaseEdges(spark, dir))

  /** q_g11w: modularity over the l_orderkey < 30000 basket window — the
    * bounded twin whose O(edges²-flavored) oracle CTEs stay evaluable at
    * every scale (ScaleGen shifts copy orderkeys by 1e8, so the window
    * always selects base-corpus baskets; the edge build is per-order
    * local, so the window commutes with edge construction). */
  def modularityW(spark: SparkSession, dir: String,
      w: Long = 30000): DataFrame = {
    val li = G.table(spark, dir, "lineitem")
      .filter(col("l_orderkey") < w && col("l_quantity") >= 30)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges = li.select(col("ok"), col("pk").as("u"))
      .join(li.select(col("ok"), col("pk").as("v")), "ok")
      .filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
    modularityOf(spark, dir, edges)
  }

  // lazy: modularitySql is declared below (vals initialize in order)
  lazy val modularityWSql: String = {
    val from = "FROM lineitem"
    require(modularitySql.contains(from))
    modularitySql.replace(from,
      "FROM (SELECT * FROM lineitem WHERE l_orderkey < 30000) lineitem")
  }

  private def modularityOf(spark: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    val brand = broadcast(G.table(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand")))
    val deg = edges.select(col("u").as("n"))
      .union(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val dSum = deg.join(brand, col("n") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("deg")).as("d_sum"))
    val eIn = edges
      .join(brand.select(col("p_partkey").as("u"),
        col("p_brand").as("bu")), "u")
      .join(brand.select(col("p_partkey").as("v"),
        col("p_brand").as("bv")), "v")
      .filter(col("bu") === col("bv"))
      .groupBy(col("bu").as("p_brand"))
      .agg(count(lit(1)).as("e_in"))
    val m = edges.agg(count(lit(1)).as("m"))
    dSum.join(eIn, Seq("p_brand"), "left")
      .na.fill(0L, Seq("e_in"))
      .join(broadcast(m))
      .select(col("p_brand"), col("e_in"), col("d_sum"), col("m"),
        (col("e_in").cast("double") / col("m").cast("double") -
          (col("d_sum").cast("double") / (lit(2) * col("m")).cast("double")) *
            (col("d_sum").cast("double") / (lit(2) * col("m")).cast("double")))
          .as("contribution"))
      .orderBy(col("p_brand"))
  }

  // li/edges are MATERIALIZED: DuckDB otherwise inlines the edge build
  // into deg, eins AND mm and re-runs the DISTINCT self-join three times —
  // measured 128 s vs 3.5 s on the window twin at the 10× corpus (and the
  // full oracle's round-9 sf1 timeout was exactly this), while at the
  // driver's sf0.01 gate the hint is cost-free. Spark never executes this
  // text (oracle-only), so the dialect extension is safe.
  val modularitySql: String =
    """WITH li AS MATERIALIZED (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |            WHERE l_quantity >= 30),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (
      |  SELECT n, count(*) AS deg FROM (
      |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
      |  GROUP BY n),
      |dsums AS (
      |  SELECT p_brand, sum(deg) AS d_sum
      |  FROM deg JOIN part ON n = p_partkey GROUP BY p_brand),
      |eins AS (
      |  SELECT pu.p_brand AS p_brand, count(*) AS e_in
      |  FROM edges JOIN part pu ON u = pu.p_partkey
      |             JOIN part pv ON v = pv.p_partkey
      |  WHERE pu.p_brand = pv.p_brand GROUP BY pu.p_brand),
      |mm AS (SELECT count(*) AS m FROM edges)
      |SELECT d.p_brand, CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in,
      |  CAST(d.d_sum AS BIGINT) AS d_sum, mm.m,
      |  CAST(coalesce(e.e_in, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE) -
      |    (CAST(d.d_sum AS DOUBLE) / CAST(2 * mm.m AS DOUBLE)) *
      |    (CAST(d.d_sum AS DOUBLE) / CAST(2 * mm.m AS DOUBLE))
      |    AS contribution
      |FROM dsums d LEFT JOIN eins e ON d.p_brand = e.p_brand
      |CROSS JOIN mm ORDER BY d.p_brand""".stripMargin

  /** q_g13: MULTI-SEED PERSONALIZED PAGERANK — per-seed neighborhood
    * affinity from the 4 smallest co-purchase nodes (the g12 landmarks),
    * top-10 parts per seed. Where g7 spreads ONE personalization vector
    * over a seed SET, this runs 4 independent personalizations in the
    * SAME rounds by carrying `seed` as a key column: the per-round plan
    * is unchanged (one adjacency⋈ranks join, one keyed agg), the shuffles
    * just carry |seeds|× rows — the batch-PPR shape a recommender uses to
    * score candidate neighborhoods for many anchors at once. Arithmetic
    * is the g7 exact-integer scheme verbatim (mass in units of 1e-12,
    * restart 15%, damping 85%, floor division), so the whole trajectory
    * is hash-exact and the oracle replays 3 unrolled (seed, node)-keyed
    * rounds. */
  def pprMulti(spark: SparkSession, dir: String, iters: Int = 3)
      : DataFrame = {
    val edges = coPurchaseEdges(spark, dir)
    val adj = edges.select(col("u").as("c"), col("v").as("nb"))
      .unionByName(edges.select(col("v").as("c"), col("u").as("nb")))
      .cache()
    val deg = adj.groupBy(col("c")).agg(count(lit(1)).as("deg")).cache()
    val seeds = deg.select(col("c").as("seed"))
      .orderBy(col("seed")).limit(4)
      .withColumn("node", col("seed")).cache()
    val unit = 1000000000000L
    val restartU = 15L * unit / 100L
    var ranks = seeds.select(col("seed"), col("node"), lit(unit).as("r"))
    for (_ <- 1 to iters) {
      val contrib = adj
        .join(ranks, adj("c") === ranks("node"))
        .join(deg, "c")
        .groupBy(col("seed"), col("nb").as("node"))
        .agg(sum(expr("r DIV deg")).as("contrib"))
      ranks = contrib
        .join(seeds.withColumn("s", lit(1L)), Seq("seed", "node"),
          "full_outer")
        .select(col("seed"), col("node"),
          (when(col("s").isNotNull, lit(restartU)).otherwise(lit(0L)) +
            expr("(85 * coalesce(contrib, 0)) DIV 100")).as("r"))
    }
    G.topK(ranks, Seq(col("seed")), Seq(col("r").desc, col("node")), 10, "rnk")
      .select(col("seed"), col("rnk"), col("node"),
        (col("r").cast("double") / lit(1.0e12)).as("ppr"))
      .orderBy(col("seed"), col("rnk"))
  }

  val pprMultiSql: String = {
    def round(prev: String, r: Int): String =
      s"""c$r AS (
         |  SELECT p.seed, a.nb AS node,
         |    CAST(SUM(p.r // d.deg) AS BIGINT) AS contrib
         |  FROM adj a JOIN $prev p ON a.c = p.node JOIN deg d ON a.c = d.c
         |  GROUP BY p.seed, a.nb),
         |r$r AS (
         |  SELECT coalesce(c.seed, s.seed) AS seed,
         |    coalesce(c.node, s.node) AS node,
         |    (CASE WHEN s.seed IS NOT NULL
         |          THEN (15 * 1000000000000) // 100 ELSE 0 END)
         |      + (85 * coalesce(c.contrib, 0)) // 100 AS r
         |  FROM c$r c FULL JOIN sd s
         |    ON c.seed = s.seed AND c.node = s.node)"""
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |            WHERE l_quantity >= 30),
       |edges AS (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |adj AS (
       |  SELECT u AS c, v AS nb FROM edges
       |  UNION ALL SELECT v AS c, u AS nb FROM edges),
       |deg AS (SELECT c, count(*) AS deg FROM adj GROUP BY c),
       |lm AS (SELECT c AS seed FROM deg ORDER BY seed LIMIT 4),
       |sd AS (SELECT seed, seed AS node FROM lm),
       |r0 AS (SELECT seed, seed AS node,
       |         CAST(1000000000000 AS BIGINT) AS r FROM lm),
       |${round("r0", 1)},
       |${round("r1", 2)},
       |${round("r2", 3)}
       |SELECT seed, rnk, node, CAST(r AS DOUBLE) / 1e12 AS ppr FROM (
       |  SELECT seed, node, r,
       |    row_number() OVER (PARTITION BY seed
       |      ORDER BY r DESC, node) AS rnk
       |  FROM r3) t
       |WHERE rnk <= 10 ORDER BY seed, rnk""".stripMargin
  }

  /** q_g12: LANDMARK DISTANCES — per-landmark BFS distance histogram from
    * the 4 smallest co-purchase nodes, radius 4. This is the multi-SOURCE
    * generalization of g5 (g5 computes distance from a seed SET — one
    * number per node; landmarks need one number per node PER landmark):
    * the state is a fixed-width distance VECTOR per node, relaxed for all
    * landmarks simultaneously in the same rounds — 4 landmarks cost ONE
    * BFS's shuffles, not four (the bit-parallel frontier idea, with exact
    * distances instead of visited bits). Landmark distance tables are the
    * standard primitive under graph-embedding features and shortest-path
    * sketches (Das Sarma et al.).
    *
    * Scale shape per round (same discipline as bfsFromEdges): adjacency
    * and state share one HashPartitioner, so the per-round join is
    * narrow; the round's one shuffle is the reduceByKey carrying
    * (node, 4×long) — state width is |landmarks|, chosen small and fixed.
    * The landmark pick (`takeOrdered(4)` on node ids) moves 32 bytes to
    * the driver. The oracle replays 4 unrolled min-agg rounds as CTEs. */
  def landmarkDistances(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = coPurchaseEdges(spark, dir)
    val part = new org.apache.spark.HashPartitioner(
      spark.sparkContext.defaultParallelism)
    val adj = edges.as[(Long, Long)].rdd
      .flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .partitionBy(part).cache()
    val nodes = adj.mapValues(_ => 1L).reduceByKey(part, (x, _) => x)
    val landmarks = nodes.keys.takeOrdered(4)
    val lmIdx = landmarks.zipWithIndex.toMap
    val nL = landmarks.length
    val INF = Long.MaxValue
    var dist = nodes.mapPartitions(_.map { case (n, _) =>
      val arr = Array.fill(nL)(INF)
      lmIdx.get(n).foreach(i => arr(i) = 0L)
      (n, arr)
    }, preservesPartitioning = true).cache()
    dist.count()
    for (_ <- 1 to 4) {
      val relaxed = adj.join(dist) // co-partitioned: narrow
        .map { case (_, (nb, arr)) =>
          (nb, arr.map(d => if (d == INF) INF else d + 1L)) }
        .reduceByKey(part, (x: Array[Long], y: Array[Long]) =>
          Array.tabulate(nL)(i => math.min(x(i), y(i)))) // one shuffle
      val next = dist.join(relaxed) // both on `part`: narrow
        .mapValues { case (d0, d1) =>
          Array.tabulate(nL)(i => math.min(d0(i), d1(i))) }
        .cache()
      next.count()
      dist.unpersist()
      dist = next
    }
    val hist = dist.flatMap { case (_, arr) =>
      arr.iterator.zipWithIndex.collect {
        case (d, i) if d != INF => (landmarks(i), d)
      }
    }.toDF("landmark", "dist")
    adj.unpersist()
    hist.groupBy(col("landmark"), col("dist"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("landmark"), col("dist"))
  }

  val landmarkDistancesSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT landmark, node, min(dist) AS dist FROM (
         |    SELECT landmark, node, dist FROM $prev
         |    UNION ALL
         |    SELECT d.landmark, a.nb AS node, d.dist + 1 AS dist
         |    FROM $prev d JOIN adj a ON a.c = d.node)
         |  GROUP BY landmark, node)"""
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |            WHERE l_quantity >= 30),
       |edges AS (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |adj AS (
       |  SELECT u AS c, v AS nb FROM edges
       |  UNION ALL SELECT v AS c, u AS nb FROM edges),
       |lm AS (SELECT DISTINCT c AS landmark FROM adj
       |       ORDER BY landmark LIMIT 4),
       |d0 AS (SELECT landmark, landmark AS node, CAST(0 AS BIGINT) AS dist
       |       FROM lm),
       |${round("d0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")},
       |${round("r3", "r4")}
       |SELECT landmark, dist, count(*) AS n_nodes
       |FROM r4 GROUP BY landmark, dist
       |ORDER BY landmark, dist""".stripMargin
  }
}
