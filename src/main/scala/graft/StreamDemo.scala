package graft

import graft.streaming.StreamingJobs
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

/** Runnable end-to-end demo of the streaming pipeline: synthetic CDC
  * envelopes → parse → foreachBatch fan-out (raw/agg/alerts) + the stateful
  * detector stream. Exercises checkpoint resume: run twice against the same
  * checkpoint dir and only new files are processed.
  *
  * Usage: runMain graft.StreamDemo [workDir]
  */
object StreamDemo {
  private[graft] def setup: Graft.Setup = Graft.Setup("graft-stream-demo", 4)

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft_stream_demo").toString)
    val in = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(in))
    val spark = setup.session()
    spark.sparkContext.setLogLevel("WARN")
    StreamingJobs.configureStateStore(spark)

    // batch 1: 200 inserts; batch 2 (resume): 100 more incl. deletes
    val existing = Files.list(Paths.get(in)).count()
    val trades = Synthetic.trades(300)
    if (existing == 0) {
      // 200 inserts + 25 WebSocket redeliveries (every 8th trade twice)
      Files.write(Paths.get(in, "batch1.json"),
        (trades.take(200).map(t => Synthetic.envelopeJson(t)) ++
          trades.take(200).filter(_.trade_id % 8 == 0)
            .map(t => Synthetic.envelopeJson(t)))
          .mkString("\n").getBytes)
    } else {
      Files.write(Paths.get(in, "batch2.json"),
        (trades.slice(200, 280).map(t => Synthetic.envelopeJson(t)) ++
          trades.slice(280, 300).map(t => Synthetic.envelopeJson(t, op = "d")))
          .mkString("\n").getBytes)
    }

    val q = StreamingJobs.fanOut(spark, in, out, ckpt,
      trigger = Trigger.AvailableNow())
    q.awaitTermination(120000)

    // S3 streaming dedup: redeliveries dropped by sequential_id
    val dedupQ = StreamingJobs.dedupStream(
      StreamingJobs.readCdcStream(spark, in))
      .writeStream
      .option("checkpointLocation", s"$ckpt-dedup")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$out/dedup")
      .start()
    dedupQ.awaitTermination(120000)

    // parquet sink (exactly-once, checkpoint-recoverable — a memory sink
    // cannot resume); state carries across runs via RocksDB state store
    val detQ = StreamingJobs.detectAnomaliesStream(
      StreamingJobs.readCdcStream(spark, in))
      .toDF()
      .writeStream
      .option("checkpointLocation", s"$ckpt-detector")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$out/detector")
      .start()
    detQ.awaitTermination(120000)

    val raw = spark.read.parquet(s"$out/raw").count()
    val agg = spark.read.parquet(s"$out/agg").count()
    val alerts = spark.read.parquet(s"$out/alerts").count()
    val detector = spark.read.parquet(s"$out/detector").count()
    val dedup = spark.read.parquet(s"$out/dedup").count()
    println(s"STREAMDEMO dir=$work raw=$raw agg=$agg d1_alerts=$alerts " +
      s"detector_alerts=$detector dedup=$dedup")
    spark.read.parquet(s"$out/detector").show(5, truncate = false)
    spark.stop()
  }
}
