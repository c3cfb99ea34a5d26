package graft

import org.apache.spark.sql.functions._

/** Round-12 (optimization round 2) pins: the production facade carries the
  * small-shuffle parallelism floor, each promoted artifact equals its
  * inline compute, and the single-split scan guard. */
class Round17OpsSpec extends SparkSpec {

  test("Graft.session() sets the AQE small-shuffle parallelism floor " +
      "(VERDICT r11 #1: the floor was harness-only; production users got " +
      "the serialized byte-small-shuffle pathology the bench no longer " +
      "measured)") {
    // Graft.session() reuses the test JVM's session via getOrCreate and
    // applies its confs to it — capture and restore what it mutates so the
    // shared suite session comes back exactly as found
    val floorKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prevFloor = spark.conf.getOption(floorKey)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val s = Graft.session()
      assert(s.conf.get(floorKey) == "64k",
        "the production facade must ship the same minPartitionSize " +
          "floor as Bench/Verify/Prof")
    } finally {
      prevFloor match {
        case Some(v) => spark.conf.set(floorKey, v)
        case None    => spark.conf.unset(floorKey)
      }
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  // Round-12 artifact promotions (x7 span table, c27 base labels, g6
  // purchase edges): the Artifact path — memo, store, checkpoint — must be
  // row-identical to the raw inline compute. The parquet round-trip is
  // exact longs, so any divergence is a bug in the publish/read path, not
  // float drift. The artifact arm runs on a cloned session (the memo is
  // session-keyed) against a fresh store root, so it builds and publishes.
  private def bothArms(q: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) =
    SparkSpec.artifactLock.synchronized {
      val prevRoot = ArtifactStore.rootOverride
      val prevEnabled = ArtifactStore.enabled
      val tmp = java.nio.file.Files.createTempDirectory("graft_r12_arm_")
      try {
        ArtifactStore.rootOverride = Some(tmp)
        ArtifactStore.enabled = true
        val viaArtifact = q(spark.newSession(), sf())
          .collect().map(_.toString).sorted.toSeq
        val inline = Artifact.inline(q(spark.newSession(), sf())
          .collect().map(_.toString).sorted.toSeq)
        (viaArtifact, inline)
      } finally {
        ArtifactStore.rootOverride = prevRoot
        ArtifactStore.enabled = prevEnabled
        SessionMemo.deleteTree(tmp.toString)
      }
    }

  test("x7 span table through the artifact store is row-identical to the " +
      "inline LCP kernel (round-12 span-artifact promotion)") {
    val (via, inline) = bothArms(graft.operators.Dedup.repeatedSpans)
    assert(via == inline,
      s"artifact path diverged: ${via.size} vs ${inline.size} rows")
  }

  test("c27 base labels through the artifact store are row-identical to " +
      "the inline label propagation (round-12 base-label promotion)") {
    val (via, inline) = bothArms(graft.operators.Dedup.incrementalClusters)
    assert(via == inline,
      s"artifact path diverged: ${via.size} vs ${inline.size} rows")
  }

  test("g6 HITS edges through the artifact store are row-identical to " +
      "the inline edge build (round-12 purchase-edge promotion)") {
    val (via, inline) = bothArms(graft.operators.Graph.hits)
    assert(via == inline,
      s"artifact path diverged: ${via.size} vs ${inline.size} rows")
  }

  test("G.spread spreads a single-split scan and passes a scan that " +
      "already has half the shuffle width of splits through unchanged") {
    val width = spark.sessionState.conf.numShufflePartitions
    assert(width >= 2, s"spec needs a shuffle width of 2+, got $width")
    assert(G.spread(spark.range(0, 100, 1, 1).toDF())
      .rdd.getNumPartitions == width)
    val wide = spark.range(0, 100, 1, (width + 1) / 2).toDF()
    assert(G.spread(wide) eq wide)
  }
}
