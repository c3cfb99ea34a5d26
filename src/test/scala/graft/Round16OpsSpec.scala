package graft

import org.apache.spark.sql.functions._

/** Round-10 wave: advisor-flagged robustness fixes, each pinned so the
  * behavior can't silently regress.
  *
  *  - SessionMemo must EVICT superseded entries of a live session when the
  *    data dir is regenerated (not only rebuild under the new key): the
  *    ScaleGen-rehearsal loop regenerates /tmp corpora repeatedly in one
  *    long session, and un-evicted stale entries pin their artifacts
  *    (temp dirs, checkpointed RDD blocks) until session stop;
  *  - ...while '#params' variants on the SAME content generation remain
  *    distinct live entries;
  *  - recursiveSubtreeRollup must not leave the shared session's
  *    cteRecursionRowLimit raised (safety rail vs long-lived sessions);
  *  - ScaleGen copy 0 must be the original column VALUE, structurally, not
  *    a split+concat_ws rebuild that is verbatim only for single-space
  *    corpora;
  *  - power-iteration norm terms must fail loudly (not saturate at
  *    Long.MaxValue) outside the fixed-point range.
  */
class Round16OpsSpec extends SparkSpec {

  test("SessionMemo: regenerating a dir evicts the superseded entry " +
      "(onEvict fires) while same-generation #params stay distinct") {
    var evicted = List.empty[String]
    val memo = new SessionMemo[String](v => evicted ::= v)
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_sup")
    try {
      val f = dir.resolve("part-0.parquet")
      java.nio.file.Files.writeString(f, "gen1")
      assert(memo.getOrBuild(spark, s"$dir#k=4") { "g1k4" } == "g1k4")
      assert(memo.getOrBuild(spark, s"$dir#k=8") { "g1k8" } == "g1k8")
      assert(evicted.isEmpty,
        "same-generation params variants must coexist, not evict each other")
      // regenerate in place: BOTH stale params entries must be evicted on
      // the next access, not linger until session stop
      java.nio.file.Files.writeString(f, "gen2 regenerated longer")
      assert(memo.getOrBuild(spark, s"$dir#k=4") { "g2k4" } == "g2k4")
      assert(evicted.toSet == Set("g1k4", "g1k8"),
        s"stale generation must be swept with onEvict; got $evicted")
      assert(memo.getOrBuild(spark, s"$dir#k=4") { "again" } == "g2k4",
        "current-generation entry must itself memoize")
    } finally SessionMemo.deleteTree(dir.toString)
  }

  test("SessionMemo: another session's entries are NOT swept by a " +
      "regeneration observed from this session") {
    val memo = new SessionMemo[String]()
    val other = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_xsess")
    try {
      val f = dir.resolve("a")
      java.nio.file.Files.writeString(f, "g1")
      assert(memo.getOrBuild(other, dir.toString) { "theirs-g1" } == "theirs-g1")
      java.nio.file.Files.writeString(f, "g2 longer")
      // this session sees generation 2; the other session's g1 entry is
      // stale too, but sweeping it from HERE would be a cross-session
      // side effect — it rebuilds on the other session's own next access
      assert(memo.getOrBuild(spark, dir.toString) { "mine-g2" } == "mine-g2")
      assert(memo.getOrBuild(other, dir.toString) { "theirs-g2" } == "theirs-g2",
        "other session must rebuild on its own access after regeneration")
    } finally SessionMemo.deleteTree(dir.toString)
  }

  test("recursiveSubtreeRollup leaves the shared session's recursion " +
      "row-limit untouched (runs on a conf-isolated clone)") {
    val before = spark.conf.get("spark.sql.cteRecursionRowLimit")
    val r = operators.Relational.recursiveSubtreeRollup(spark, sf())
    assert(r.count() > 0)
    assert(spark.conf.get("spark.sql.cteRecursionRowLimit") == before,
      "safety rail must not stay raised on the shared session")
  }

  test("ScaleGen: copy 0 preserves text and n_chars VERBATIM even when " +
      "the corpus is not single-space-separated") {
    val src = java.nio.file.Files.createTempDirectory("graft_sg_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_sg_dst").toString
    try {
      // stage a corpus copy whose documents carry hostile whitespace:
      // leading/trailing spaces, double spaces, a tab
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "embeddings"))
        G.table(spark, sf(), t).write.parquet(s"$src/$t.parquet")
      // events via the vintage-adapting reader (raw read needs the legacy
      // nanos flag on nanos-vintage testdata)
      G.events(spark, sf()).write.parquet(s"$src/events.parquet")
      G.table(spark, sf(), "documents")
        .withColumn("text", concat(lit("  lead"), lit("\t"), col("text"),
          lit("  double  spaced  tail ")))
        .withColumn("n_chars", length(col("text")))
        .write.parquet(s"$src/documents.parquet")
      ScaleGen.generate(spark, src, dst, 2)
      val base = G.table(spark, src, "documents")
        .select("doc_id", "text", "n_chars")
      val copy0 = G.table(spark, dst, "documents")
        .select("doc_id", "text", "n_chars")
        .join(base.select(col("doc_id")), Seq("doc_id"), "left_semi")
      assert(copy0.exceptAll(base).isEmpty && base.exceptAll(copy0).isEmpty,
        "copy 0 must be byte-verbatim under hostile whitespace")
    } finally {
      SessionMemo.deleteTree(src)
      SessionMemo.deleteTree(dst)
    }
  }

  test("ivfNearDups: exact planted twins are always caught (identical " +
      "vectors co-locate in every table), and every reported pair is a " +
      "true tau pair") {
    // 400 near-orthogonal random vectors; every 20th duplicates its
    // predecessor (cosine 1.0). Exact twins have identical centroid
    // distance profiles, so they share a home cell in EVERY table —
    // catching them needs no probing luck at all.
    val e = spark.range(400)
      .select(col("id").as("vec_id"),
        when(col("id") % 20 === 19, col("id") - 1).otherwise(col("id"))
          .as("seed"))
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63),
          |  d -> CAST(pmod(xxhash64(seed * 64 + d), 2001) - 1000
          |       AS DOUBLE) / 1000.0)""".stripMargin).as("v"))
      .withColumn("nrm", sqrt(expr(
        "aggregate(v, CAST(0.0 AS DOUBLE), (s, x) -> s + x * x)")))
      .cache()
    val got = operators.Similarity.ivfNearDupsOn(e, k = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val planted = (19L until 400L by 20L).map(b => (b - 1, b)).toSet
    assert(planted.subsetOf(got),
      s"missed planted exact twins: ${planted -- got}")
    // no false positives: recompute the true pair set brute-force
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", operators.Similarity.dot(col("va"), col("vb"))
        / (col("na") * col("nb")))
      .filter(col("sim") >= 0.35)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth),
      s"reported non-tau pairs (verify must be exact): ${got -- truth}")
  }

  /** Lists /tmp/graft_artifacts entries for a spec artifact name. Callers
    * pin the producer version (`.v2`) in the prefix explicitly. */
  private def artifactDirs(prefix: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("/tmp/graft_artifacts")
    if (!java.nio.file.Files.isDirectory(root)) Seq.empty
    else {
      val l = java.nio.file.Files.list(root)
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(prefix)).toSeq
      finally l.close()
    }
  }

  /** Drops stale spec artifacts from earlier test runs — every run uses a
    * fresh temp source dir, so prior runs' publishes have foreign dirHashes
    * the production sweep (correctly) never touches. */
  private def dropSpecArtifacts(name: String): Unit =
    artifactDirs(name).foreach(g =>
      SessionMemo.deleteTree(s"/tmp/graft_artifacts/$g"))

  test("ArtifactStore: publishes once, cold-reads after, republishes and " +
      "sweeps superseded generations when the corpus regenerates") {
    SparkSpec.artifactLock.synchronized {
      dropSpecArtifacts("round16_spec_artifact")
      val dir = java.nio.file.Files.createTempDirectory("graft_art_src")
      val grace0 = ArtifactStore.graceMs
      ArtifactStore.graceMs = 0L // spec wants the sweep observable NOW
      try {
        java.nio.file.Files.writeString(dir.resolve("part-0.parquet"), "g1")
        var builds = 0
        // the store under the content generation an Artifact derives for dir
        def get(): Seq[Long] = ArtifactStore
          .getOrBuild(spark, "round16_spec_artifact", 2, dir.toString,
            SessionMemo.genOf(SessionMemo.fingerprint(dir.toString))) {
            builds += 1
            spark.range(3).select(col("id") + builds)
          }.collect().map(_.getLong(0)).sorted.toSeq
        assert(get() == Seq(1L, 2L, 3L) && builds == 1)
        assert(get() == Seq(1L, 2L, 3L) && builds == 1,
          "second access must read the published artifact, not rebuild")
        assert(artifactDirs("round16_spec_artifact.v2-").size == 1,
          "published name must carry the current producer generation")
        // regenerate the corpus in place: new generation must publish and
        // the stale one must be swept from disk
        java.nio.file.Files.writeString(dir.resolve("part-0.parquet"),
          "g2 regenerated longer")
        assert(get() == Seq(2L, 3L, 4L) && builds == 2,
          "regenerated corpus must rebuild under the new generation")
        val gens = artifactDirs("round16_spec_artifact.v2-")
        assert(gens.size == 1, s"superseded generation not swept: $gens")
        gens.foreach(g => SessionMemo.deleteTree(s"/tmp/graft_artifacts/$g"))
      } finally {
        ArtifactStore.graceMs = grace0
        SessionMemo.deleteTree(dir.toString)
      }
    }
  }

  test("Artifact: a producer version bump sweeps the old code's " +
      "artifacts instead of stranding them (VERDICT r10 sweep gap)") {
    SparkSpec.artifactLock.synchronized {
      dropSpecArtifacts("round16_gen_artifact")
      val dir = java.nio.file.Files.createTempDirectory("graft_art_gen")
      val grace0 = ArtifactStore.graceMs
      ArtifactStore.graceMs = 0L
      try {
        java.nio.file.Files.writeString(dir.resolve("part-0.parquet"), "g1")
        val v1 = new Artifact("round16_gen_artifact", 1)
        v1(spark, dir.toString)(spark.range(2).toDF()).collect()
        assert(artifactDirs("round16_gen_artifact.v1-").size == 1)
        val v2 = new Artifact("round16_gen_artifact", 2) // "ship" the bump
        val got = v2(spark, dir.toString)(spark.range(5).toDF()).count()
        assert(got == 5, "new producer generation must rebuild, not serve v1")
        assert(artifactDirs("round16_gen_artifact.v1-").isEmpty,
          "pre-bump artifact directory must be swept, not orphaned")
        val cur = artifactDirs("round16_gen_artifact.")
        assert(cur.size == 1 && cur.head.startsWith("round16_gen_artifact.v2-"))
        cur.foreach(g => SessionMemo.deleteTree(s"/tmp/graft_artifacts/$g"))
      } finally {
        ArtifactStore.graceMs = grace0
        SessionMemo.deleteTree(dir.toString)
      }
    }
  }

  test("ArtifactStore: losing the cross-JVM publish race onto a non-empty " +
      "winner directory (ENOTEMPTY, not just EEXIST) discards the staged " +
      "copy and reads the winner (ADVICE r10)") {
    val root = java.nio.file.Files.createTempDirectory("graft_art_race")
    try {
      // winner: an already-published non-empty artifact with _SUCCESS
      val pub = root.resolve("a@g")
      java.nio.file.Files.createDirectories(pub)
      java.nio.file.Files.writeString(pub.resolve("part-0.parquet"), "win")
      java.nio.file.Files.writeString(pub.resolve("_SUCCESS"), "")
      // loser: a staged tmp sibling racing onto the same name — on Linux
      // this move fails DirectoryNotEmptyException, which must be handled
      val tmp = java.nio.file.Files.createTempDirectory(root, "a.tmp")
      java.nio.file.Files.writeString(tmp.resolve("part-0.parquet"), "lose")
      assert(!ArtifactStore.publish(tmp, pub), "loser must report lost race")
      assert(!java.nio.file.Files.exists(tmp), "loser's tmp must be deleted")
      assert(java.nio.file.Files.readString(pub.resolve("part-0.parquet"))
        == "win", "winner's artifact must be untouched")
      // but a move failure with NO winner _SUCCESS is a real error
      val pub2 = root.resolve("b@g")
      java.nio.file.Files.createDirectories(pub2)
      java.nio.file.Files.writeString(pub2.resolve("part-0.parquet"), "junk")
      val tmp2 = java.nio.file.Files.createTempDirectory(root, "b.tmp")
      java.nio.file.Files.writeString(tmp2.resolve("x"), "y")
      assertThrows[java.nio.file.FileSystemException] {
        ArtifactStore.publish(tmp2, pub2)
      }
    } finally SessionMemo.deleteTree(root.toString)
  }

  /** ScaleGen byte-stability pin (VERDICT r9 #6): the sf1 rehearsal's
    * cross-round comparability rests on "deterministic end to end" — this
    * machine-checks it. The fixture maps a combined input digest of the
    * sf0.001 source tables to the digest of the ENTIRE K=2 generated
    * corpus (every table, canonical sorted rows); a new testdata vintage
    * records its entry after a determinism double-run, and any later drift
    * on unchanged inputs fails here. */
  test("ScaleGen: K=2 output digest matches the recorded golden value " +
      "for this testdata vintage") {
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map("%02x".format(_)).mkString
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val inputHash = sha(tables.map { t =>
      sha(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${sf()}/$t.parquet")))
    }.mkString("|").getBytes("UTF-8"))
    def corpusDigest(): String = {
      val dst = java.nio.file.Files
        .createTempDirectory("graft_sg_digest").toString
      try {
        ScaleGen.generate(spark, sf(), dst, 2)
        sha(tables.map { t =>
          val rows = spark.read.parquet(s"$dst/$t.parquet")
            .collect().map(_.toString).sorted
          s"$t:${sha(rows.mkString("\n").getBytes("UTF-8"))}"
        }.mkString("\n").getBytes("UTF-8"))
      } finally SessionMemo.deleteTree(dst)
    }
    val fixture =
      java.nio.file.Paths.get("src/test/resources/scalegen_golden.properties")
    val props = new java.util.Properties()
    if (java.nio.file.Files.exists(fixture)) {
      val in = java.nio.file.Files.newInputStream(fixture)
      try props.load(in) finally in.close()
    }
    val digest = corpusDigest()
    Option(props.getProperty(inputHash)) match {
      case Some(golden) =>
        assert(digest == golden,
          "ScaleGen output drifted on UNCHANGED testdata: scale-rehearsal " +
            "numbers are no longer cross-round comparable (update the " +
            "fixture only if the generator change is intended)")
      case None =>
        assert(digest == corpusDigest(), "ScaleGen is not deterministic")
        props.setProperty(inputHash, digest)
        val out = java.nio.file.Files.newOutputStream(fixture)
        try props.store(out, "ScaleGen golden digest: sha256(source tables)" +
          " -> sha256(per-table sorted-row digests at K=2)")
        finally out.close()
    }
  }

  /** q_stream_late cost-structure pin (VERDICT r9 #4): the replay's time
    * is ~all micro-batch trigger machinery — one trigger per staged
    * arrival-slice file plus the state-flush sentinel. The round-9 bench
    * "drift" (6.2 → 7.1 s) solo-measures at 6.8 s warm with max/min 2.48
    * across idle reps (noise, not a plan change); what COULD silently
    * erode the number is a fixture-slicing change multiplying the trigger
    * count. Pin: file count == distinct 2.5-day arrival slices + 1. */
  test("q_stream_late fixture stages one file per arrival slice plus " +
      "the sentinel (trigger count pinned)") {
    val in = streaming.StreamingJobs.lateFixtureDir(spark, sf())
    val files = new java.io.File(in).listFiles()
      .filter(f => f.getName.startsWith("part-") || f.getName.startsWith("z-"))
    val env = operators.CdcParser.eventsAsEnvelopeJsonTs(spark, sf())
    val cut = env
      .filter(col("event_id") % 17 =!= 0 && col("event_id") % 23 =!= 0)
      .agg(max(col("cdc_ms"))).head().getLong(0) - 691200000L
    val slices = env.withColumn("arrival",
        col("cdc_ms") +
          when(col("event_id") % 101 === 0 && col("cdc_ms") <= cut,
            lit(604800000L))
          .when(col("event_id") % 103 === 0 && col("event_id") % 101 =!= 0,
            lit(21600000L))
          .otherwise(lit(0L)))
      .selectExpr("arrival DIV 216000000 AS slice")
      .distinct().count()
    assert(files.length == slices + 1,
      s"staged ${files.length} trigger files for $slices arrival slices " +
        "+ 1 sentinel — the replay's micro-batch count (its whole cost) " +
        "changed shape")
  }

  test("power iteration: out-of-range norm terms fail loudly instead of " +
      "saturating Long.MaxValue") {
    // the band the DRIVER guard owns: every distributed per-term product
    // val*dt*1e12 stays within BIGINT (~2e12 here, so Spark's ANSI cast —
    // which fails loudly on its own — does not fire), but the aggregated
    // w = 1e4 puts w*w*1e12 = 1e20 >> Long.MaxValue, where scala .toLong
    // silently CLAMPS (wrong lambda, cross-engine divergence) and DuckDB's
    // trunc->BIGINT errors
    val vecs = spark.range(5000)
      .select(col("id").as("vec_id"),
        expr("array(1.0d, 1.0d, 1.0d, 1.0d)").as("v"))
    val e = intercept[Exception] {
      operators.Similarity.powerIterVecs(vecs, 4, 1).collect()
    }
    assert(e.getMessage.contains("fixed-point range"),
      s"expected the overflow guard, got: ${e.getMessage}")
  }
}
