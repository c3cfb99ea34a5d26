package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator: replicate a driver testdata dir K× with
  * shifted keys, producing an sf·K-equivalent corpus for full-suite scale
  * rehearsals (the driver ships sf ≤ 0.1; the round-8 sign-LSH degeneracy
  * proved that small-sf correctness can mask defects only scale exposes).
  *
  * Scaling rules, chosen so every query keeps its semantics while its
  * working set grows K×:
  *  - `region`/`nation`: copied verbatim — fixed-size dimensions (TPC-H
  *    scales fact tables, never the 5/25-row dimensions);
  *  - `customer`/`supplier`/`part`/`orders`/`lineitem`: K copies with all
  *    primary AND foreign keys shifted by copy·stride (strides are round
  *    numbers above each key domain's max), so referential joins stay
  *    1:1 within a copy and never cross copies; `nationkey` stays — 10×
  *    customers per nation is exactly how TPC-H scales;
  *  - `events`: K copies, `user_id` shifted, `ts` UNCHANGED — the window
  *    count stays fixed while per-window density grows K× (the
  *    ingest-rate axis; shifting ts instead would grow the timeline, the
  *    cheaper axis for windowed aggs). `event_id` is INTERLEAVED
  *    (id·K + copy), not block-shifted: the driver corpus keeps event_id
  *    perfectly event-time-ordered (0 inversions — the invariant a real
  *    CDC feed's per-key Kafka ordering provides, which the SCD2/dedup
  *    replays' sequence-order contract builds on), and a block shift
  *    breaks it — copies interleave in time with far-apart ids, and the
  *    scd2 version chains diverge from the batch oracle (caught by the
  *    sf1 correctness pass);
  *  - `documents`: K copies, `doc_id` shifted, and each copy's text run
  *    through a PER-COPY CHARACTER SUBSTITUTION (copy 0 verbatim): a
  *    deterministic hash-seeded permutation of each character class
  *    (lowercase, uppercase, digits; whitespace/punct untouched), applied
  *    with `translate`. Class-preserving and 1:1, so token lengths, doc
  *    lengths, case/digit structure and the WITHIN-copy similarity
  *    structure are preserved exactly (substitution is a bijection on the
  *    alphabet, so shingle structure is isomorphic), while cross-copy
  *    token equality requires every character to be a fixed point of two
  *    independent random permutations — vanishing. Two earlier drafts
  *    measured why weaker maps fail: rotating the token SEQUENCE
  *    preserves all but wrap-boundary 3-grams (every doc gained K−1 twins
  *    at Jaccard ≈ 0.9; Σ freq² 2.8M → 277M at K=10), and rotating each
  *    token's CHARACTERS is identity on single-char tokens and periodic
  *    in token length, so cross-copy hamming≤2 simhash mass grew ∝ K²
  *    (639 k → 162 M pairs from K=10 → 100 — SCALE.md round-10 finding
  *    2, the defect this substitution closes; a Caesar-per-class map
  *    would re-collide at copy ≡ copy' mod 26, which matters at
  *    K = 1000). Bounded-window oracles (doc_id < N) see copy 0 only and
  *    stay comparable;
  *  - `embeddings`: K copies, `vec_id` shifted, dimensions rotated by
  *    copy — rotation preserves the norm and the coordinate distribution
  *    while making cross-copy cosine ≈ the base corpus's background
  *    similarity, for the same reason as the text rotation.
  *
  * Deterministic end to end (no rand), so reruns regenerate byte-stable
  * inputs and the SessionMemo content fingerprint holds across runs.
  * Usage: runMain graft.ScaleGen [srcDir] [dstDir] [k]. */
object ScaleGen {

  private val KEY_STRIDE = 100000000L // above every key domain in sf<=1

  private[graft] def setup: Graft.Setup =
    Graft.Setup("graft-scalegen", Graft.envCores(16))

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = setup.session()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, dst, k)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    def t(name: String) = G.table(spark, src, name)
    // K copies via a broadcast-range cross join: each source row fans out
    // to K rows with copy = 0..K-1, scan-parallel, shuffle-free
    def copies(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(
        spark.range(k.toLong).select(col("id").as("copy"))))
    def shift(c: String): org.apache.spark.sql.Column =
      col(c) + col("copy") * KEY_STRIDE
    // rotate an array column by `copy` positions (identity for copy 0)
    def rotate(arr: org.apache.spark.sql.Column) = {
      val r = pmod(col("copy"), greatest(size(arr), lit(1))).cast("int")
      concat(slice(arr, r + 1, size(arr) - r), slice(arr, lit(1), r))
    }
    def write(df: DataFrame, name: String, files: Int): Unit =
      df.drop("copy").repartition(files)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")

    write(t("region"), "region", 1)
    write(t("nation"), "nation", 1)
    write(copies(t("customer")).withColumn("c_custkey", shift("c_custkey")),
      "customer", math.max(1, k / 2))
    write(copies(t("supplier")).withColumn("s_suppkey", shift("s_suppkey")),
      "supplier", 1)
    write(copies(t("part")).withColumn("p_partkey", shift("p_partkey")),
      "part", math.max(1, k / 2))
    write(copies(t("orders"))
      .withColumn("o_orderkey", shift("o_orderkey"))
      .withColumn("o_custkey", shift("o_custkey")),
      "orders", k)
    write(copies(t("lineitem"))
      .withColumn("l_orderkey", shift("l_orderkey"))
      .withColumn("l_partkey", shift("l_partkey"))
      .withColumn("l_suppkey", shift("l_suppkey")),
      "lineitem", 2 * k)
    write(copies(G.events(spark, src))
      .withColumn("event_id", col("event_id") * k + col("copy"))
      .withColumn("user_id", shift("user_id")),
      "events", k)
    // per-copy class-preserving substitution ciphers, built driver-side
    // (K rows of three 26/26/10-char strings) and broadcast in: each copy
    // gets an independent hash-seeded permutation of every class, so the
    // map itself is a tiny dimension join, not a per-row re-derivation.
    // Copy 0 keeps the ORIGINAL column value (not translate through an
    // identity map) — the 'copy 0 verbatim' invariant bounded-window
    // oracle comparability relies on must be structural, not an accident
    // of the map being identity.
    val subFrom = ('a' to 'z').mkString + ('A' to 'Z').mkString +
      ('0' to '9').mkString
    def permuted(alphabet: String, copy: Long): String =
      if (copy == 0L) alphabet
      else alphabet.zipWithIndex.sortBy { case (ch, i) =>
        scala.util.hashing.MurmurHash3.stringHash(s"graft:$copy:$i:$ch")
      }.map(_._1).mkString
    val subTo = spark.createDataFrame(
      (0L until k.toLong).map { c =>
        (c, permuted(('a' to 'z').mkString, c) +
          permuted(('A' to 'Z').mkString, c) +
          permuted(('0' to '9').mkString, c))
      }).toDF("copy", "sub_to")
    write(copies(t("documents"))
      .withColumn("doc_id", shift("doc_id"))
      .join(broadcast(subTo), "copy")
      // n_chars is preserved verbatim for every copy: translate with
      // equal-length from/to is strictly 1:1 on characters
      .withColumn("text", when(col("copy") === 0, col("text"))
        .otherwise(expr(s"translate(text, '$subFrom', sub_to)")))
      .drop("sub_to"),
      "documents", math.max(1, k / 2))
    write(copies(t("embeddings"))
      .withColumn("vec_id", shift("vec_id"))
      .withColumn("embedding", rotate(col("embedding"))),
      "embeddings", math.max(1, k / 2))
    println(s"SCALEGEN wrote ${k}x of $src to $dst")
  }
}
