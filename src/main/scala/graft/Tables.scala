package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Columnar table layout (SURVEY §2.8 ST1–ST4) — the ClickHouse MergeTree
  * behaviors re-expressed as parquet layout:
  *
  *  - ST1 monthly time partitioning (`PARTITION BY toYYYYMM`,
  *    `clickhouse/init.sql:25,51,72`) → hive-style `partitionBy("month")`;
  *    Catalyst prunes partitions from time predicates for free.
  *  - ST2 sort key (`ORDER BY (market, ts, id)`, `init.sql:26`) →
  *    `sortWithinPartitions` before write: parquet row-group min/max stats
  *    then give the same index-skip effect on (key, ts) range scans.
  *  - ST4 insert timestamp default (`init.sql:22`) → `inserted_at` stamped
  *    at write.
  *  - ST3 TTL retention (`init.sql:27`) is a maintenance job, not an engine
  *    primitive: `retentionFilter` builds the keep-predicate; dropping whole
  *    month partitions is the cheap path at scale.
  *
  * At 100 TB: one shuffle (`repartition(month, bucketExpr)`) sizes output
  * files and co-locates each partition's data; sortWithinPartitions is a
  * spill-backed local sort. File count per month = `filesPerMonth`, tuned so
  * files land near the 128MB–1GB sweet spot instead of 32 tiny files per
  * partition from every task.
  */
object Tables {

  /** Write a time-series frame as a monthly-partitioned, key-sorted parquet
    * table. `sortCols` is the MergeTree-style sort key. */
  def writePartitioned(df: DataFrame, path: String, tsCol: String,
      sortCols: Seq[String], filesPerMonth: Int = 4): Unit =
    df.withColumn("month", date_format(col(tsCol), "yyyyMM"))
      .withColumn("inserted_at", current_timestamp())
      .repartition(filesPerMonth, col("month"),
        pmod(hash(col(sortCols.head)), lit(filesPerMonth)))
      .sortWithinPartitions(col("month") +: sortCols.map(col): _*)
      .write.mode("overwrite")
      .partitionBy("month")
      .parquet(path)

  /** Bucketed layout for co-located fact-to-fact joins: both sides written
    * `bucketBy(n, key)` join WITHOUT any Exchange — at 100 TB this removes
    * the one remaining shuffle of the star schema (lineitem ⋈ orders).
    * Bucket count is fixed at write time; pick ≈ cluster cores at target
    * scale. Verified shuffle-free in LayoutSpec. */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
      bucketCol: String, nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(tableName)

  /** Small-file compaction — the nightly maintenance job every streaming
    * lake needs: micro-batch sinks produce one small file per batch per
    * partition, and at 100 TB the scan cost becomes file-open-bound long
    * before it is byte-bound. Rewrites each month partition of a
    * [[writePartitioned]]-layout table into `filesPerMonth` sort-keyed
    * files and atomically swaps directories (write to `<path>.compact`,
    * rename over). The rewrite IS `writePartitioned` — compaction must
    * restore the canonical layout, not invent a second one — so sort-key
    * data-skipping survives, which LayoutSpec asserts via file counts and
    * per-file footer min/max after compacting a deliberately fragmented
    * copy. Partitions compact independently: on a cluster this parallelizes
    * per month and never rewrites more than one partition's bytes. */
  def compact(spark: SparkSession, path: String, tsCol: String,
      sortCols: Seq[String], filesPerMonth: Int = 4): Unit = {
    val df = spark.read.parquet(path)
      .drop("month", "inserted_at")
    val tmp = path + ".compact"
    writePartitioned(df, tmp, tsCol, sortCols, filesPerMonth)
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }

  /** ST3: retention keep-predicate (TTL 90 days in the reference). */
  def retentionFilter(df: DataFrame, tsCol: String, cutoff: String): DataFrame =
    df.filter(col(tsCol) >= lit(cutoff).cast("timestamp_ntz"))

  /** ST3 as the MAINTENANCE JOB the reference actually runs: ClickHouse
    * TTL (`clickhouse/init.sql:27,53,74`) expires data by DROPPING whole
    * parts, a metadata operation — it never rewrites live rows. On a
    * [[writePartitioned]] monthly layout the equivalent is deleting the
    * expired `month=yyyyMM` directories: O(expired partitions) filesystem
    * ops regardless of table size, while [[retentionFilter]] remains the
    * query-time predicate for rows inside the boundary month. Expiry is
    * judged on the PARTITION VALUE (a month is dropped only when the whole
    * month is past the cutoff), so a mid-month cutoff never deletes live
    * rows — the boundary month stays and the filter handles it.
    *
    * Returns the dropped month values. LayoutSpec proves live-partition
    * files are byte-identical (length + mtime) after the drop — expired
    * months vanish WITHOUT touching live data. */
  def dropExpiredPartitions(spark: SparkSession, path: String,
      cutoffMonth: String): Seq[String] = {
    // resolve the TABLE PATH's filesystem, not fs.defaultFS — a table on
    // s3a://... or hdfs://... would otherwise be listed/deleted on the
    // wrong filesystem entirely
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .flatMap { p =>
        p.getName match {
          case s if s.startsWith("month=") =>
            val m = s.stripPrefix("month=")
            // drop strictly-before months only: the cutoff's own month can
            // still hold live rows
            if (m < cutoffMonth) {
              // delete()==false with no exception means the partition is
              // neither dropped nor reported — fail loudly instead
              if (!fs.delete(p, true))
                throw new java.io.IOException(s"failed to drop partition $p")
              Some(m)
            } else None
          case _ => None
        }
      }
      .sorted
  }

  /** Z-value (Morton code) of two dimensions, each truncated to its low
    * 16 bits: bit-interleave via the classic binary-magic-number spread —
    * pure BIGINT shifts/masks, codegen'd end-to-end and replayable
    * term-for-term in any engine with `<<`, `&`, `|` (the q_st5 oracle
    * does exactly that in DuckDB).
    *
    * Why it matters at 100 TB: a linear sort key gives row-group min/max
    * skipping on ONE leading column; sorting by z-value makes row groups
    * tight boxes in BOTH dimensions, so a conjunctive box predicate
    * (market range × time range, user × value, ...) prunes multiplicatively
    * instead of only on the leading key. LayoutSpec measures the touched
    * row-group fraction z vs linear on the same data. */
  def zValue(a: Column, b: Column): Column = {
    def spread(x0: Column): Column = {
      val x = x0.bitwiseAND(lit(0xFFFFL))
      val s1 = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
      val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
      s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Write `df` clustered by the z-order of (dimA, dimB): global range
    * partition on the z-value (one shuffle, like any global sort), local
    * sort by it, then the helper column is dropped — the payoff is the
    * row-group min/max stats of dimA and dimB themselves, which become
    * tight 2-D boxes. */
  def writeZOrdered(df: DataFrame, path: String, dimA: String, dimB: String,
      nFiles: Int = 8, parquetBlockBytes: Long = 128L << 20): Unit =
    df.withColumn("_z", zValue(col(dimA), col(dimB)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite")
      .option("parquet.block.size", parquetBlockBytes)
      .parquet(path)

  /** q_st5: the z-value expression as a checked query — events bucketized
    * to two 8-bit dims, Morton-coded, rolled up per 1024-wide z range.
    * Pure integer shifts/masks, so the DuckDB oracle replays every bit. */
  def zorderStats(spark: SparkSession, dir: String): DataFrame = {
    val ub = col("user_id").bitwiseAND(lit(255L))
    val vb = floor(col("value")).cast("long").bitwiseAND(lit(255L))
    G.events(spark, dir)
      .select(zValue(ub, vb).as("z"))
      .groupBy(expr("z DIV 1024").as("z_bucket"))
      .agg(count(lit(1)).as("n"), min(col("z")).as("z_min"),
        max(col("z")).as("z_max"))
      .orderBy(col("z_bucket"))
  }

  /** The magic-number spread written out as SQL (the inner term textually
    * repeats — generated, so the two engines cannot drift). */
  private def spreadSql(x: String): String = {
    val m0 = s"($x & 65535)"
    val m1 = s"(($m0 | ($m0 << 8)) & 16711935)"
    val m2 = s"(($m1 | ($m1 << 4)) & 252645135)"
    val m3 = s"(($m2 | ($m2 << 2)) & 858993459)"
    s"(($m3 | ($m3 << 1)) & 1431655765)"
  }

  val zorderStatsSql: String = {
    val za = spreadSql("(user_id & 255)")
    val zb = spreadSql("(CAST(floor(value) AS BIGINT) & 255)")
    s"""WITH zt AS (SELECT ($za | ($zb << 1)) AS z FROM events)
       |SELECT z // 1024 AS z_bucket, count(*) AS n,
       |  min(z) AS z_min, max(z) AS z_max
       |FROM zt GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_st6: the bucketed co-located join END TO END as a checked query —
    * both fact tables written `bucketBy(8, key)` into a per-call temp
    * warehouse location, joined through the bucketed scans (merge-join hint
    * binds to the bucket layout; LayoutSpec pins that this plan contains NO
    * Exchange), rolled up per order status. At 100 TB bucketing is the
    * difference between shuffling two fact tables on every join and
    * shuffling each once at ingest; this query proves results that flow
    * through the bucketed storage path match the plain-join oracle. The
    * result materializes to parquet before the catalog tables drop, so the
    * returned frame stays valid for the driver's later read. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val base = Scratch.dir(s"graft_st6_$tag")
    val li = G.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = G.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
    writeBucketed(li, s"li_st6_$tag", s"$base/li", "l_orderkey", 8)
    writeBucketed(ord, s"ord_st6_$tag", s"$base/ord", "o_orderkey", 8)
    spark.table(s"li_st6_$tag")
      .hint("merge")
      .join(spark.table(s"ord_st6_$tag"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        G.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$base/out")
    spark.sql(s"DROP TABLE IF EXISTS li_st6_$tag")
    spark.sql(s"DROP TABLE IF EXISTS ord_st6_$tag")
    spark.read.parquet(s"$base/out")
  }

  val bucketedJoinSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_lines,
      |  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Read back a table written by writePartitioned. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** q_st7: DYNAMIC PARTITION PRUNING end to end — the runtime analogue
    * of ST1's static monthly layout: the fact table is written
    * `partitionBy(ship_month)` to real storage, the month dimension is
    * filtered on a DERIVED attribute (quarter — not statically resolvable
    * to month values at plan time), and Spark's DPP injects the
    * `dynamicpruning` subquery into the fact scan so only the quarter's 3
    * month partitions are read, at runtime, from the broadcast build side.
    * THE mechanism that makes dimension-filtered star joins touch 3/85ths
    * of a 100 TB fact table instead of all of it; Round12OpsSpec pins the
    * `dynamicpruning` PartitionFilter and that static pruning alone could
    * not have done it. The oracle recomputes the same quarter from the
    * unpartitioned table — the hash match proves the pruned scan lost no
    * rows. */
  /** The partitioned fixture behind [[dppJoin]] is a per-(session, dir)
    * memo: the month-partitioned copy of lineitem is the DEMONSTRATION'S
    * storage layout, not per-query work — writing it once per session
    * keeps bench iterations measuring the pruned read (and stops each
    * call from leaving another full fact copy in /tmp). */
  // the month-partitioned lineitem copy is a full fact-table clone in
  // /tmp: evict it when its session stops (SessionMemo sweep) and remove
  // any survivors at JVM exit so no copy outlives the process
  private val dppMemo = SessionMemo.tempDirs()
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = dppMemo.getOrBuild(spark, dir) {
      val b = java.nio.file.Files.createTempDirectory("graft_st7_")
        .toString
      G.table(spark, dir, "lineitem")
        .withColumn("ship_month",
          date_format(col("l_shipdate"), "yyyy-MM"))
        .write.partitionBy("ship_month").mode("overwrite")
        .parquet(s"$b/li")
      b
    }
    val fact = spark.read.parquet(s"$base/li")
    val dim = G.table(spark, dir, "lineitem")
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .distinct()
      .withColumn("quarter", expr(
        """concat(substring(month, 1, 4), '-Q',
          |  CAST((CAST(substring(month, 6, 2) AS INT) - 1) DIV 3 + 1
          |       AS STRING))""".stripMargin))
    fact
      .join(broadcast(dim.filter(col("quarter") === "1997-Q1")),
        col("ship_month") === col("month"))
      .groupBy(col("ship_month"))
      .agg(count(lit(1)).as("n_lines"),
        G.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("ship_month"))
  }

  val dppJoinSql: String =
    """WITH m AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |    l_extendedprice, l_discount
      |  FROM lineitem)
      |SELECT ship_month, count(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
      |    AS DOUBLE) AS revenue
      |FROM m
      |WHERE substring(ship_month, 1, 4) || '-Q' ||
      |    CAST((CAST(substring(ship_month, 6, 2) AS INT) - 1) // 3 + 1
      |         AS VARCHAR) = '1997-Q1'
      |GROUP BY ship_month ORDER BY ship_month""".stripMargin
}
