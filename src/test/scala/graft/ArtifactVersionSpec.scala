package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the content of every published [[Artifact]] at its declared
  * version. The store keys a snapshot's artifact on the corpus content and
  * the producer version only, so a producer change that alters the rows
  * without a version bump would keep serving the old code's artifact from
  * any existing store. Here each consumer runs on sf0.001 against a fresh
  * store root; every published directory's rows are hashed (independent of
  * row order) and compared with the pin for its `name.vN`.
  *
  * A content change goes red here until the producer's `version` is bumped
  * and its pin re-recorded. A new publishing artifact goes red until its
  * consumer is added below and its pin recorded. Limitation: a change
  * whose effect on the rows shows only above sf0.001 is not caught. */
class ArtifactVersionSpec extends SparkSpec {
  import ArtifactVersionSpec._

  /** One consumer per published artifact name; calling it builds and
    * publishes the artifacts it reads. */
  private val consumers: Seq[(SparkSession, String) => DataFrame] = Seq(
    operators.Dedup.dedupClusters(_, _),
    operators.Dedup.incrementalClusters,
    operators.Dedup.incrementalClustersW(_, _),
    operators.Dedup.suffixArray,
    operators.Dedup.suffixArrayW(_, _),
    operators.Dedup.repeatedSpans,
    operators.Dedup.repeatedSpansW(_, _),
    operators.Dedup.simJoin(_, _),
    operators.Graph.coPurchaseEdges,
    operators.Graph.hits)

  /** Published `name.vN` → order-independent row hash at sf0.001. The
    * sf0.001 corpus lies inside every doc_id window, so each window
    * variant pins the same rows as its full-corpus artifact. */
  private val pinned: Map[String, String] = Map(
    "c27_base_labels.v2" -> "b1cfcba170289586",
    "c27_base_labels_w2000.v2" -> "b1cfcba170289586",
    "cluster_labels.v2" -> "460f8ee8fb61bc28",
    "copurchase_edges.v2" -> "95934da489185e6b",
    "hits_edges.v2" -> "c9e7a55ee1cf4953",
    "neardup_pairs.v2" -> "59a3862367882ee6",
    "ppjoin_index.v2" -> "a438934ad349727e",
    "repeated_spans.v2" -> "eb2acfc5bfa30fe7",
    "repeated_spans_w1200.v2" -> "eb2acfc5bfa30fe7",
    "suffix_ranks.v2" -> "e0dabe19ffbbc9af",
    "suffix_ranks_w1200.v2" -> "e0dabe19ffbbc9af")

  test("every published artifact matches its pinned content at its " +
      "declared version, and every declared one is published") {
    SparkSpec.artifactLock.synchronized {
      val prevRoot = ArtifactStore.rootOverride
      val prevEnabled = ArtifactStore.enabled
      val root = Files.createTempDirectory("graft_art_version_")
      try {
        ArtifactStore.rootOverride = Some(root)
        ArtifactStore.enabled = true
        val s = spark.newSession() // empty memo: every artifact builds
        consumers.foreach(q => q(s, sf()).count())
        val published = listDirs(root).map { d =>
          val n = d.getFileName.toString
          val m = Published.findFirstMatchIn(n)
            .getOrElse(fail(s"unexpected store entry $n"))
          m.group(1) -> rowHash(spark.read.parquet(d.toString))
        }.toMap
        val declared = declaredPublishing()
          .map(a => s"${a.name}.v${a.version}")
        val bases = published.keySet.map(WindowSuffix.replaceAllIn(_, ""))
        assert(bases == declared,
          "published artifacts differ from the declared publishing " +
            "Artifacts (a new one needs a consumer here and a pin)")
        val drifted = (published.keySet ++ pinned.keySet)
          .filter(k => published.get(k) != pinned.get(k))
        assert(drifted.isEmpty,
          "artifact content differs from its pin; bump the producer's " +
            "Artifact version and re-pin: " + drifted.toSeq.sorted.map(k =>
              s""""$k" -> "${published.getOrElse(k, "")}"""")
              .mkString(", "))
      } finally {
        ArtifactStore.rootOverride = prevRoot
        ArtifactStore.enabled = prevEnabled
        SessionMemo.deleteTree(root.toString)
      }
    }
  }
}

object ArtifactVersionSpec {
  /** `<name><params>.v<N>-<dirHash>@<gen>`: group 1 is `<name><params>.vN`. */
  private val Published = """^(.+\.v\d+)-[0-9a-f]{8}@.+$""".r
  /** The doc_id-window params suffix of a published name. */
  private val WindowSuffix = """_w\d+(?=\.v\d+$)""".r

  private def listDirs(root: Path): Seq[Path] = {
    val l = Files.list(root)
    try l.iterator().asScala.filter(Files.isDirectory(_)).toList
    finally l.close()
  }

  private def rowHash(df: DataFrame): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(df.collect().map(_.toString).sorted.mkString("\n")
        .getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** Every publishing [[Artifact]] held by an object in the compiled
    * program, found by reflection over its class directory. */
  private def declaredPublishing(): Set[Artifact] = {
    val root = Paths.get(
      classOf[Artifact].getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(Files.isDirectory(root), s"program classes not a directory: $root")
    val walk = Files.walk(root)
    val modules =
      try walk.iterator().asScala.map(root.relativize(_).toString)
        .filter(_.endsWith("$.class")).toList
      finally walk.close()
    modules.flatMap { f =>
      Try {
        val cls = Class.forName(f.stripSuffix(".class").replace('/', '.'),
          false, classOf[Artifact].getClassLoader)
        cls.getDeclaredFields.filter(_.getType == classOf[Artifact]).toSeq
          .map { fld => (cls, fld) }
      }.getOrElse(Nil)
    }.map { case (cls, fld) =>
      fld.setAccessible(true)
      fld.get(cls.getField("MODULE$").get(null)).asInstanceOf[Artifact]
    }.filter(_.publish).toSet
  }
}
