package graft

import graft.operators.{CdcParser, Similarity}
import org.apache.spark.sql.functions._

/** Round-7 seventh wave: Matryoshka truncation ladder (y22),
  * forward-compatible parse (p12), checkpoint-resume exactly-once
  * (stream_resume). */
class Round7gOpsSpec extends SparkSpec {

  test("y22: recall is monotone in dims and perfect at full width") {
    val out = Similarity.matryoshkaRecall(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(8L, 16L, 32L, 64L))
    assert(out.last._2 == 1.0) // 64 dims IS the truth metric
    assert(out.map(_._2).sliding(2).forall(w => w(0) <= w(1) + 1e-12))
  }

  test("p12: v2 envelopes exist and parse byte-identically to v1") {
    val dir = sf()
    // the injection really fires (some jsons grew)
    assert(CdcParser.forwardCompatEnvelopes(spark, dir)
      .filter(col("json").contains("v2_extras")).count() > 0)
    val v1 = CdcParser.cdcParseRoundtrip(spark, dir).orderBy(col("trade_id"))
    val v2 = CdcParser.forwardCompatParse(spark, dir)
    assert(v2.schema == v1.schema)
    assert(v1.collect().toSeq == v2.collect().toSeq)
    // the declarative from_json path tolerates the unknown subtree too
    assert(CdcParser.parseEnvelope(CdcParser.forwardCompatEnvelopes(spark, dir),
      col("json")).orderBy(col("trade_id")).collect().toSeq ==
      v1.collect().toSeq)
  }

  test("stream_resume: two runs, one checkpoint, batch-identical output") {
    val out = graft.streaming.StreamingJobs.resumeReplay(spark, sf())
      .collect()
    assert(out.nonEmpty)
    // the second run really resumed: more offsets than phase-1 files (3)
    // were committed in total across both AvailableNow drains
    val cks = new java.io.File("/tmp").listFiles()
      .filter(_.getName.startsWith("graft_stream_resume"))
      .maxBy(_.lastModified)
    val offsets = new java.io.File(cks, "ck/offsets").listFiles()
      .filterNot(_.getName.endsWith(".crc"))
    assert(offsets.length >= 5, s"only ${offsets.length} batches committed")
    // one output row per (5-min window, market) of the PARSED stream —
    // no loss, no dups across the restart (the driver's hash compare
    // against the one-shot batch SQL is the full-value check)
    val expected = CdcParser.cdcParseRoundtrip(spark, sf())
      .select(expr("source_ts DIV 300000"), col("market"))
      .distinct().count()
    assert(out.length.toLong == expected)
  }
}
