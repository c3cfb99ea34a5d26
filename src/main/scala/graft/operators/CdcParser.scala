package graft.operators

import graft.{G, model}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium CDC envelope parsing (SURVEY §2.2 P1/P2, §2.1 S2).
  *
  * Reproduces the flatMap semantics of the reference parser
  * (`flink/.../function/CdcEventParser.java:42-97`):
  *  - tolerate a missing `payload` wrapper — fields at root (`:48-51`)
  *  - drop events without `op` — tombstones (`:53-54`)
  *  - row image = `before` when op='d', else `after` (`:57-62`); drop if null
  *  - decimal-string → double, non-numeric → 0.0 (`:104-115`)
  *  - per-field defaults: 0 for numerics, "UNKNOWN" for strings (`:76-86`)
  *  - `cdc_latency_ms = ts_ms - source.ts_ms` (`:90`)
  *  - malformed JSON → 0 rows, no failure (`:94-96`)
  *
  * [[parse]] is the implementation: a Jackson streaming kernel that reads
  * each envelope's tokens once into the 12 output slots. [[parseEnvelope]]
  * states the same semantics declaratively (`from_json`, `coalesce`,
  * `try_cast`); no production path calls it, and the specs compare the two
  * on every fixture, the roundtrip corpus and fuzzed envelopes. At 100 TB
  * the parse stays a single narrow stage: no shuffle, no state.
  */
object CdcParser {

  /** The declarative reference for [[parse]]: the same Debezium-envelope
    * parse written with `from_json` (null on corrupt input and on absent
    * fields, so the flatMap's 0-or-1-row behavior is a keep flag over op and
    * image) and `coalesce` defaults. The specs compare [[parse]] against it;
    * no production code calls it.
    *
    * PERFORMANCE-CRITICAL SHAPE: the drop conditions (tombstone / malformed
    * / missing image) must NOT be expressed as `filter` over aliases of the
    * parsed struct — predicate pushdown substitutes the alias, inlining a
    * fresh `from_json` into every pushed conjunct (measured ~7 parses per
    * row, 2× the whole-query time). Instead every output column AND a
    * `_keep` flag are computed in one projection over the single `_env`
    * alias (CollapseProject never inlines non-cheap expressions used more
    * than once), and the drop happens behind a TYPED filter — an object
    * boundary the optimizer cannot push predicates through. Net effect:
    * exactly one from_json evaluation per row. */
  def parseEnvelope(df: DataFrame, jsonCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val env = df.select(from_json(jsonCol, model.envelopeSchema).as("_env"))
    // payload wrapper if present, else the root-level fields
    def pick(field: String): Column =
      coalesce(col(s"_env.payload.$field"), col(s"_env.$field"))
    val op = pick("op")
    val img = when(op === "d", pick("before")).otherwise(pick("after"))
    val srcTs = coalesce(pick("source.ts_ms"), lit(0L))
    val cdcTs = coalesce(pick("ts_ms"), lit(0L))
    // decimal-string parse: try_cast yields null on garbage → default 0.0
    // (P2; plain cast would THROW under Spark 4's default ANSI mode)
    val flat = env.select(
      coalesce(op, lit("")).as("op"),
      coalesce(img.getField("trade_id"), lit(0L)).as("trade_id"),
      coalesce(img.getField("market"), lit("UNKNOWN")).as("market"),
      coalesce(img.getField("trade_price").try_cast(DoubleType), lit(0.0))
        .as("trade_price"),
      coalesce(img.getField("trade_volume").try_cast(DoubleType), lit(0.0))
        .as("trade_volume"),
      coalesce(img.getField("trade_amount").try_cast(DoubleType), lit(0.0))
        .as("trade_amount"),
      coalesce(img.getField("ask_bid"), lit("UNKNOWN")).as("ask_bid"),
      coalesce(img.getField("upbit_timestamp"), lit(0L)).as("upbit_timestamp"),
      coalesce(img.getField("sequential_id"), lit(0L)).as("sequential_id"),
      srcTs.as("source_ts"),
      cdcTs.as("cdc_ts"),
      (cdcTs - srcTs).as("cdc_latency_ms"),
      (op.isNotNull && img.isNotNull).as("_keep"))
    flat.as[model.ParsedEvent]
      .filter(_._keep) // typed boundary: no pushdown, parse stays single
      .drop("_keep")
  }

  /** The ingest parse: a column of Debezium-envelope JSON into the
    * flattened trade-event frame (model.ParsedEvent columns), through a
    * Jackson streaming kernel with the semantics of [[parseEnvelope]]
    * (CdcParserSpec asserts equivalence on every fixture and the full
    * roundtrip corpus).
    *
    * Why: `from_json` is CodegenFallback — per row it allocates a generic
    * JacksonParser run, materializes the full envelope struct (3 nested
    * structs × 9 fields, mostly unused nulls), then the projection walks it
    * boxed. This parser streams tokens once per row into exactly the 12
    * output slots, skipping unknown subtrees, with one shared JsonFactory
    * per partition. Same distribution shape (narrow, shuffle-free,
    * embarrassingly parallel); measured ~3× on the parse stage (Stress).
    *
    * Semantic mirror notes (all spec-pinned):
    *  - field-level payload/root coalesce: a slot filled from `payload.x`
    *    wins; a root `x` fills it only if still unset (from_json:
    *    `coalesce(_env.payload.x, _env.x)`)
    *  - malformed JSON / missing op / missing image → 0 rows
    *  - decimal STRINGS parse via the same Spark-compatible rule as
    *    `try_cast(STRING AS DOUBLE)`: trimmed, plain/scientific decimal
    *    only (parseDouble accepts "1d"/"0x1p3"; those must stay 0.0)
    *  - long fields accept only integer tokens (from_json nulls a string
    *    there); string fields accept any scalar's text (unquoted numbers
    *    arrive as their literal text, the "numeric decimal" fixture) */
  def parse(df: DataFrame, jsonCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val out = df.select(jsonCol.cast(StringType)).as[String]
      .mapPartitions { it =>
        val factory = new com.fasterxml.jackson.core.JsonFactory()
        it.flatMap { json => ParseKernel.parseOne(factory, json) }
      }
    out.toDF("op", "trade_id", "market", "trade_price", "trade_volume",
      "trade_amount", "ask_bid", "upbit_timestamp", "sequential_id",
      "source_ts", "cdc_ts", "cdc_latency_ms")
  }

  /** The per-row streaming kernel (separate object: a stable, tested unit
    * with no Spark types in its signature). */
  private[operators] object ParseKernel {
    import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

    // one row-image slot set; instances are per-call (cheap, escape-analyzed)
    private final class Img {
      var tradeId: java.lang.Long = null
      var market: String = null
      var price: String = null
      var volume: String = null
      var amount: String = null
      var askBid: String = null
      var upbitTs: java.lang.Long = null
      var seqId: java.lang.Long = null
    }

    private final class Slots {
      var op: String = null
      var tsMs: java.lang.Long = null
      var srcTs: java.lang.Long = null
      var before: Img = null
      var after: Img = null
    }

    /** try_cast(STRING AS DOUBLE) mirror. Verified empirically (spec edge
      * table): Spark's string→double cast is trimmed Java parseDouble —
      * it even accepts "1d"/"1f" suffixes and "NaN"/"Infinity" literals —
      * so the faithful mirror IS parseDouble, not a stricter validator. */
    private def tryCastDouble(s: String): Double = {
      if (s == null) return 0.0
      try java.lang.Double.parseDouble(s.trim)
      catch { case _: Exception => 0.0 }
    }

    private def readLongOrNull(p: JsonParser): java.lang.Long =
      if (p.currentToken() == JsonToken.VALUE_NUMBER_INT) p.getLongValue
      else { p.skipChildren(); null }

    private def readTextOrNull(p: JsonParser): String =
      p.currentToken() match {
        case JsonToken.VALUE_NULL => null
        case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
          p.skipChildren(); null
        case _ => p.getValueAsString
      }

    private def readImg(p: JsonParser): Img = {
      if (p.currentToken() == JsonToken.VALUE_NULL) return null
      if (p.currentToken() != JsonToken.START_OBJECT) { p.skipChildren(); return null }
      val img = new Img
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val f = p.currentName(); p.nextToken()
        f match {
          case "trade_id" => img.tradeId = readLongOrNull(p)
          case "market" => img.market = readTextOrNull(p)
          case "trade_price" => img.price = readTextOrNull(p)
          case "trade_volume" => img.volume = readTextOrNull(p)
          case "trade_amount" => img.amount = readTextOrNull(p)
          case "ask_bid" => img.askBid = readTextOrNull(p)
          case "upbit_timestamp" => img.upbitTs = readLongOrNull(p)
          case "sequential_id" => img.seqId = readLongOrNull(p)
          case _ => p.skipChildren()
        }
      }
      img
    }

    private def readSourceTs(p: JsonParser): java.lang.Long = {
      if (p.currentToken() != JsonToken.START_OBJECT) { p.skipChildren(); return null }
      var ts: java.lang.Long = null
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val f = p.currentName(); p.nextToken()
        if (f == "ts_ms") ts = readLongOrNull(p) else p.skipChildren()
      }
      ts
    }

    /** Fill envelope-level fields from the object the parser is inside.
      * `overwrite=false` implements the root side of the field-level
      * coalesce (payload wins, root fills gaps). */
    private def readEnvFields(p: JsonParser, s: Slots, overwrite: Boolean): Unit =
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val f = p.currentName(); p.nextToken()
        f match {
          case "op" =>
            val v = readTextOrNull(p); if (overwrite || s.op == null) s.op = v
          case "ts_ms" =>
            val v = readLongOrNull(p); if (overwrite || s.tsMs == null) s.tsMs = v
          case "source" =>
            val v = readSourceTs(p); if (overwrite || s.srcTs == null) s.srcTs = v
          case "before" =>
            val v = readImg(p); if (overwrite || s.before == null) s.before = v
          case "after" =>
            val v = readImg(p); if (overwrite || s.after == null) s.after = v
          case _ => p.skipChildren()
        }
      }

    def parseOne(factory: JsonFactory, json: String):
        Option[(String, Long, String, Double, Double, Double, String, Long,
          Long, Long, Long, Long)] = {
      val s = new Slots
      try {
        val p = factory.createParser(json)
        try {
          if (p.nextToken() != JsonToken.START_OBJECT) return None
          // two passes in one walk: payload object (overwrite=true) and the
          // root's own fields (fill-if-unset)
          while (p.nextToken() != JsonToken.END_OBJECT) {
            val f = p.currentName(); p.nextToken()
            f match {
              case "payload" =>
                if (p.currentToken() == JsonToken.START_OBJECT)
                  readEnvFields(p, s, overwrite = true)
                else p.skipChildren()
              case "op" => if (s.op == null) s.op = readTextOrNull(p)
              case "ts_ms" => if (s.tsMs == null) s.tsMs = readLongOrNull(p)
              case "source" => if (s.srcTs == null) s.srcTs = readSourceTs(p)
              case "before" => if (s.before == null) s.before = readImg(p)
              case "after" => if (s.after == null) s.after = readImg(p)
              case _ => p.skipChildren()
            }
          }
        } finally p.close()
      } catch { case _: Exception => return None } // malformed → 0 rows
      if (s.op == null) return None                // tombstone
      val img = if (s.op == "d") s.before else s.after
      if (img == null) return None                 // missing image
      val srcTs: Long = if (s.srcTs == null) 0L else s.srcTs
      val cdcTs: Long = if (s.tsMs == null) 0L else s.tsMs
      Some((
        s.op,
        if (img.tradeId == null) 0L else img.tradeId,
        if (img.market == null) "UNKNOWN" else img.market,
        tryCastDouble(img.price),
        tryCastDouble(img.volume),
        tryCastDouble(img.amount),
        if (img.askBid == null) "UNKNOWN" else img.askBid,
        if (img.upbitTs == null) 0L else img.upbitTs,
        if (img.seqId == null) 0L else img.seqId,
        srcTs, cdcTs, cdcTs - srcTs))
    }
  }

  // ---------------------------------------------------------------- t2 query

  /** Deterministic op-code mapping used to turn the driver `events` table
    * into a CDC change stream (FIXTURES.md §B): each event_type plays one
    * Debezium op; `error` plays a delete (image in `before`). */
  private val opCase: Column =
    when(col("event_type") === "signup", "c")
      .when(col("event_type") === "purchase", "c")
      .when(col("event_type") === "click", "r")
      .when(col("event_type") === "view", "u")
      .otherwise("d")

  private val opCaseSql: String =
    """CASE WHEN event_type = 'signup' THEN 'c'
      |     WHEN event_type = 'purchase' THEN 'c'
      |     WHEN event_type = 'click' THEN 'r'
      |     WHEN event_type = 'view' THEN 'u'
      |     ELSE 'd' END""".stripMargin

  /** Build Debezium-shaped JSON from `events`, exercising every parser
    * branch — the single "json"-column stream shared by the batch roundtrip
    * below and the streaming file-source replay
    * (graft.streaming.StreamingJobs.fanOutReplay):
    *  - event_id % 17 == 0 → tombstone (no op) → dropped
    *  - event_id % 23 == 0 → malformed JSON → dropped
    *  - op 'd' rows carry the image in `before` (after=null)
    *  - event_type 'click' rows omit `ask_bid` → default "UNKNOWN"
    *  - odd event_id → fields at the JSON root (no payload wrapper)
    *  - cdc latency = props.k (source.ts_ms = ts_ms - k)
    *  - trade_volume carries props.k as a decimal STRING (P2 parse path)
    */
  def eventsAsEnvelopeJson(spark: SparkSession, dir: String): DataFrame =
    eventsAsEnvelopeJsonTs(spark, dir).select(col("json"))

  /** [[eventsAsEnvelopeJson]] plus the source event-time (`src_ms`) — the
    * streaming dedup replay needs event time to range-partition the input
    * files so micro-batches replay in event-time order (the watermark
    * contract). The column is replay plumbing only; it never appears in
    * the envelope. */
  private[graft] def eventsAsEnvelopeJsonTs(spark: SparkSession,
      dir: String): DataFrame =
    envelopes(spark, dir)(envelopeBuild(spark, dir))

  /** Every streaming replay starts by JSON-encoding the events table into
    * Debezium envelopes — a dozen fixture writers per bench/verify run
    * paying the same projection, now paid once per session. */
  private val envelopes =
    new graft.Artifact("cdc_envelope", 2, publish = false)

  private def envelopeBuild(spark: SparkSession,
      dir: String): DataFrame = {
    val ev = G.eventsRaw(spark, dir)
      .withColumn("k", G.propsK(col("props")))
      .withColumn("cdc_ms", expr("ts_ns DIV 1000000"))
      .withColumn("src_ms", expr("ts_ns DIV 1000000") - col("k"))
      .withColumn("op", opCase)
    val image = concat(
      lit("""{"trade_id": """), col("event_id"),
      lit(""", "market": "M"""), col("user_id"), lit("\""),
      lit(""", "trade_price": """"), col("value").cast(StringType), lit("\""),
      lit(""", "trade_volume": """"), col("k").cast(StringType), lit("\""),
      when(col("event_type") =!= "click",
        concat(lit(""", "ask_bid": """"),
          when(col("event_type") === "purchase", "BID").otherwise("ASK"),
          lit("\""))).otherwise(lit("")),
      lit(""", "sequential_id": """), col("event_id") * 1000,
      lit("}"))
    val payload = concat(
      lit("{"),
      when(col("op") === "d",
        concat(lit(""""before": """), image, lit(""", "after": null""")))
        .otherwise(concat(lit(""""before": null, "after": """), image)),
      lit(""", "source": {"ts_ms": """), col("src_ms"),
      lit(""", "db": "crypto_db", "table": "crypto_trades"}"""),
      lit(""", "op": """"), col("op"), lit("\""),
      lit(""", "ts_ms": """), col("cdc_ms"),
      lit("}"))
    val json =
      when(col("event_id") % 17 === 0,
        // tombstone: envelope with no op at all
        lit("""{"payload": {"before": null, "after": null}}"""))
      .when(col("event_id") % 23 === 0, lit("""{"oops"""))  // malformed
      .when(col("event_id") % 2 === 1, payload)             // no wrapper
      .otherwise(concat(lit("""{"payload": """), payload, lit("}")))
    // cdc_ms (the CDC/arrival clock) and event_id ride along for replay
    // writers that slice by ARRIVAL rather than event time (the late-data
    // replay); like src_ms they are plumbing and never enter the envelope
    ev.select(json.as("json"), col("src_ms"), col("cdc_ms"), col("event_id"))
  }

  /** P1/P2/S2 roundtrip: generate the envelope stream, parse it back. */
  /** Eleven operators consume the parsed CDC frame and each paid the
    * full envelope encode + Jackson parse per query; the parsed frame is a
    * few MB at sf0.1, so it is built once per session. */
  private val parsed = new graft.Artifact("cdc_parsed", 2, publish = false)
  def cdcParseRoundtrip(spark: SparkSession, dir: String): DataFrame =
    parsed(spark, dir)(parse(eventsAsEnvelopeJson(spark, dir), col("json")))

  /** q_p1 entry: the roundtrip plus its presentation sort. The sort lives
    * here — not in the building block — so downstream aggregations
    * (`changedRowCounts`) never depend on `EliminateSorts` to remove it. */
  def cdcParseRoundtripSorted(spark: SparkSession, dir: String): DataFrame =
    cdcParseRoundtrip(spark, dir).orderBy(col("trade_id"))

  /** Unordered roundtrip body — the canonical form for the eight oracles
    * that embed the parse as a subquery. [[cdcParseRoundtripSql]] is this
    * plus the presentation sort; consumers needing the bare parse use the
    * body directly instead of string-replacing the ORDER BY back out
    * (which silently produced invalid SQL whenever the sort column
    * drifted). */
  val cdcParseBodySql: String =
    s"""SELECT $opCaseSql AS op,
       |  event_id AS trade_id,
       |  'M' || user_id AS market,
       |  value AS trade_price,
       |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS DOUBLE) AS trade_volume,
       |  CAST(0.0 AS DOUBLE) AS trade_amount,
       |  CASE WHEN event_type = 'click' THEN 'UNKNOWN'
       |       WHEN event_type = 'purchase' THEN 'BID'
       |       ELSE 'ASK' END AS ask_bid,
       |  0 AS upbit_timestamp,
       |  event_id * 1000 AS sequential_id,
       |  epoch_ms(ts) - CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS source_ts,
       |  epoch_ms(ts) AS cdc_ts,
       |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS cdc_latency_ms
       |FROM events
       |WHERE event_id % 17 <> 0 AND event_id % 23 <> 0""".stripMargin

  val cdcParseRoundtripSql: String =
    s"$cdcParseBodySql\nORDER BY trade_id"

  /** q_p10: ingest DROP AUDIT — reconcile the parsed CDC stream against
    * its source, per day: which envelopes did the parser reject, and at
    * what rate? The dropped set is DERIVED by anti-joining the source
    * against the actual parse output (never by re-stating the drop
    * predicates), while the oracle states the parser's drop SPEC
    * (malformed JSON, invalid op) directly — so the hash match proves the
    * parser rejects exactly its specified set and nothing else, the
    * reconciliation every CDC ingest pipeline owes its consumers
    * (parsed + dropped == source, row for row).
    *
    * Plan: one keyed anti-join on event id + two day-keyed aggs with
    * map-side partials; drop_rate is a single division of exact counts. */
  def dropAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = G.events(spark, dir)
      .select(col("event_id"), to_date(col("ts")).as("day"))
    val parsed = cdcParseRoundtrip(spark, dir)
      .select(col("trade_id").as("event_id"))
    val totals = ev.groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    val drops = ev.join(parsed, Seq("event_id"), "left_anti")
      .groupBy(col("day")).agg(count(lit(1)).as("n_dropped"))
    totals.join(drops, Seq("day"), "left_outer")
      .withColumn("n_dropped", coalesce(col("n_dropped"), lit(0L)))
      .withColumn("drop_rate",
        col("n_dropped").cast("double") / col("n_events"))
      .select(col("day"), col("n_events"), col("n_dropped"), col("drop_rate"))
      .orderBy(col("day"))
  }

  val dropAuditSql: String =
    """WITH ev AS (SELECT event_id, CAST(ts AS DATE) AS day FROM events),
      |tot AS (SELECT day, count(*) AS n_events FROM ev GROUP BY day),
      |drp AS (
      |  SELECT day, count(*) AS n_dropped FROM ev
      |  WHERE event_id % 17 = 0 OR event_id % 23 = 0
      |  GROUP BY day)
      |SELECT t.day, t.n_events,
      |  CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
      |  CAST(COALESCE(d.n_dropped, 0) AS DOUBLE) / t.n_events AS drop_rate
      |FROM tot t LEFT JOIN drp d ON t.day = d.day
      |ORDER BY t.day""".stripMargin

  /** q_p11: WATERMARK TUNING audit — the decision table for "how much
    * allowed lateness": for candidate watermark delays, how many events
    * would the 5-minute window aggregation DROP, and what does the
    * lateness distribution look like? This is the number every streaming
    * deployment picks by guesswork; here it is computed from the stream
    * itself, under the same micro-batch semantics Spark executes
    * (a row is dropped iff its window END is at or below the LATE-EVENTS
    * watermark of its batch — which in Spark is the PREVIOUS batch's
    * watermark, i.e. max event time through batch k−2 minus the delay;
    * stateful operators gate late input one batch behind eviction, a
    * fact this model encodes with its 2-PRECEDING frame and
    * q_stream_late pins against the real engine). q_stream_late then runs the REAL engine
    * over the same arrival process and hash-checks that the model here
    * is the truth, not a guess.
    *
    * The arrival process: the testdata arrives in event-time order
    * (jitter ≤ 99 ms — nothing is ever late), so lateness is injected
    * deterministically, the sentinel-fixture move: every 101st trade is
    * redelivered 7 DAYS late (the "replayed partition" failure mode;
    * only when it is ≥ 8 days from stream end, so its fate is
    * batch-boundary-independent — see [[graft.streaming.StreamingJobs]])
    * and every 103rd trade arrives 6 HOURS late (the "lagging producer"
    * mode, inside any reasonable watermark). Micro-batches are modeled
    * as 6-hour arrival slices.
    *
    * Exactness: timestamps are integer ms; the watermark recurrence is a
    * running max over the tiny per-slice aggregate (O(slices) rows);
    * drop counts are conditional sums; lateness percentiles are
    * percentile_disc picks of integers — zero float arithmetic except
    * the final drop-rate divisions. The identical report body replays in
    * DuckDB (only the integer-division operator is dialect-swapped).
    *
    * Scale shape: one keyed slice aggregate with map-side partials, one
    * window over O(slices) rows, one broadcast join-back, ONE pass
    * computing every delay's count + all percentiles in a single
    * aggregate. */
  def lateAudit(spark: SparkSession, dir: String): DataFrame = {
    // the 3-column projection is referenced three times by the body (the
    // max-arrival scalar, the slice maxima, the gated rows); cache it —
    // EAGERLY, or all three subplan instances race the cold cache inside
    // one job and each re-runs the Jackson parse — so the parse runs once
    val p = cdcParseRoundtrip(spark, dir)
      .select(col("trade_id"), col("source_ts"), col("cdc_ts"))
      .cache()
    p.count()
    p.createOrReplaceTempView("p11_parsed")
    spark.sql(lateAuditBody("p11_parsed", "DIV"))
  }

  /** Shared report body; `d` is the integer-division operator (`DIV` on
    * Spark, `//` on DuckDB) — the single dialect difference. */
  private def lateAuditBody(rel: String, d: String): String = {
    val delays = Seq(0L, 3600000L, 21600000L, 86400000L, 604800000L)
    val dropSums = delays.zipWithIndex.map { case (ms, i) =>
      s"sum(CASE WHEN win_end <= wm_base - $ms THEN 1 ELSE 0 END) AS d$i"
    }.mkString(",\n       ")
    val dropPick = delays.zipWithIndex.map { case (ms, i) =>
      s"WHEN stat = 'drop' AND delay_ms = $ms THEN d$i"
    }.mkString("\n         ")
    val dropVals = delays
      .map(ms => s"('drop', CAST($ms AS BIGINT))").mkString(", ")
    s"""WITH cm AS (SELECT max(cdc_ts) AS cmax FROM $rel),
       |b AS (
       |  SELECT source_ts,
       |    cdc_ts + CASE
       |      WHEN trade_id % 101 = 0 AND cdc_ts <= cmax - 691200000
       |        THEN 604800000
       |      WHEN trade_id % 103 = 0 AND trade_id % 101 <> 0
       |        THEN 21600000
       |      ELSE 0 END AS arrival
       |  FROM $rel CROSS JOIN cm),
       |s AS (SELECT source_ts, arrival $d 21600000 AS slice FROM b),
       |sm AS (SELECT slice, max(source_ts) AS mx FROM s GROUP BY slice),
       |wm AS (
       |  SELECT slice, max(mx) OVER (ORDER BY slice
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS wm_base
       |  FROM sm),
       |g AS (
       |  SELECT /*+ BROADCAST(w) */ t.source_ts, w.wm_base,
       |    (t.source_ts $d 300000 + 1) * 300000 AS win_end,
       |    greatest(coalesce(w.wm_base - t.source_ts, 0), 0) AS late_ms
       |  FROM s t JOIN wm w ON t.slice = w.slice),
       |one AS (
       |  SELECT count(*) AS n_total,
       |       $dropSums,
       |       CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY late_ms)
       |         AS BIGINT) AS p50,
       |       CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY late_ms)
       |         AS BIGINT) AS p95,
       |       CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY late_ms)
       |         AS BIGINT) AS p99,
       |       max(late_ms) AS late_max
       |  FROM g),
       |labels(stat, delay_ms) AS (
       |  VALUES $dropVals,
       |    ('events', CAST(-1 AS BIGINT)), ('late_p50', CAST(-1 AS BIGINT)),
       |    ('late_p95', CAST(-1 AS BIGINT)), ('late_p99', CAST(-1 AS BIGINT)),
       |    ('late_max', CAST(-1 AS BIGINT)))
       |SELECT stat, delay_ms,
       |  CAST(CASE $dropPick
       |         WHEN stat = 'events' THEN n_total
       |         WHEN stat = 'late_p50' THEN p50
       |         WHEN stat = 'late_p95' THEN p95
       |         WHEN stat = 'late_p99' THEN p99
       |         WHEN stat = 'late_max' THEN late_max
       |       END AS BIGINT) AS n,
       |  CASE WHEN stat = 'drop'
       |       THEN CAST(CASE $dropPick END AS DOUBLE) / n_total
       |       ELSE CAST(NULL AS DOUBLE) END AS rate
       |FROM one CROSS JOIN labels
       |ORDER BY stat, delay_ms""".stripMargin
  }

  val lateAuditSql: String = {
    val parsed = cdcParseBodySql
    s"WITH parsed AS ($parsed),\n" +
      lateAuditBody("parsed", "//").stripPrefix("WITH ")
  }

  /** q_p12: FORWARD-COMPATIBLE parse — the schema-evolution contract every
    * CDC consumer needs: when producers upgrade FIRST and start shipping
    * envelope fields the consumer has never seen, the parse must ignore
    * them and emit byte-identical rows. Every 13th event's envelope gets
    * an unknown nested subtree injected (`v2_extras`: an array of mixed
    * scalars and objects — the worst case for a token-skipper), and the
    * ORACLE IS q_p1's unchanged v1 SQL: the hash match proves the parser
    * treats v2 input exactly as v1: the Jackson kernel skips the subtree
    * (its skipChildren branch), and Round7gOpsSpec shows the from_json
    * reference dropping it too (absent-from-schema fields are dropped by
    * construction).
    *
    * Plan shape: identical to q_p1 — the injection is one conditional
    * string replace in the generator projection; still a single narrow
    * scan stage. */
  def forwardCompatParse(spark: SparkSession, dir: String): DataFrame =
    parse(forwardCompatEnvelopes(spark, dir), col("json"))
      .orderBy(col("trade_id"))

  /** q_p12's input: the roundtrip envelopes with the v2 subtree injected
    * into every 13th event's, after the `source` object, which closes just
    * before `op` in every envelope that has one. */
  private[graft] def forwardCompatEnvelopes(spark: SparkSession,
      dir: String): DataFrame =
    eventsAsEnvelopeJsonTs(spark, dir).withColumn("json",
      when(col("event_id") % 13 === 0,
        expr("""replace(json, '}, "op": "',
               |  '}, "v2_extras": {"trace": [1, 2, {"deep": true}], "note": "n"}, "op": "')"""
          .stripMargin.replace("\n", "")))
        .otherwise(col("json")))

  /** The v1 parse spec, verbatim — equality IS the compatibility proof. */
  def forwardCompatParseSql: String = cdcParseRoundtripSql

  /** P5: changed-rows filter (op IN c/u/d, excludes snapshot 'r') + per-op
    * counts — the materialized-view predicate (`clickhouse/init.sql:93`). */
  def changedRowCounts(spark: SparkSession, dir: String): DataFrame =
    cdcParseRoundtrip(spark, dir)
      .filter(col("op").isin("c", "u", "d"))
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n"),
        G.dsum(col("trade_price")).as("price_sum"))
      .orderBy(col("op"))

  val changedRowCountsSql: String =
    s"""SELECT op, count(*) AS n,
       |  CAST(CAST(SUM(CAST(trade_price AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS price_sum
       |FROM (${cdcParseBodySql}) t
       |WHERE op IN ('c','u','d')
       |GROUP BY op ORDER BY op""".stripMargin

  /** Changelog → snapshot apply: materialize the CURRENT table state from a
    * CDC stream — the canonical CDC consumer (what the reference's MySQL
    * table IS, reconstructed engine-side). Events are re-keyed
    * (`trade_id % 3000`) so each key carries several versions; the latest
    * version per key wins (`sequential_id` is the total order) and a final
    * op='d' tombstones the key out of the snapshot.
    *
    * One shuffle on the key; `row_number <= 1` triggers WindowGroupLimit,
    * so each map task forwards only its per-key latest row — the shuffle
    * carries O(keys), not O(changelog). At 100 TB this is the compaction
    * shape: replaying a day of changes costs one keyed exchange of the
    * surviving rows. */
  def snapshotApply(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("sequential_id").desc)
    cdcParseRoundtrip(spark, dir)
      .withColumn("key", col("trade_id") % 3000)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "d")
      .select(col("key"), col("op"), col("market"), col("trade_price"),
        col("sequential_id"))
      .orderBy(col("key"))
  }

  val snapshotApplySql: String =
    s"""SELECT key, op, market, trade_price, sequential_id FROM (
       |  SELECT trade_id % 3000 AS key, op, market, trade_price,
       |    sequential_id,
       |    row_number() OVER (PARTITION BY trade_id % 3000
       |      ORDER BY sequential_id DESC) AS rn
       |  FROM (${cdcParseBodySql}) t) v
       |WHERE rn = 1 AND op <> 'd'
       |ORDER BY key""".stripMargin

  /** Changelog → SCD Type-2 history: the OTHER canonical CDC consumer.
    * [[snapshotApply]] keeps only each key's latest row; a warehouse
    * dimension keeps EVERY version as a validity interval. Same re-keying
    * (`trade_id % 3000` so keys carry several versions), ordered by
    * `sequential_id` (the changelog's total order — the authority; the
    * payload timestamps are data, reference
    * `producer/producer.py:104-109` unique key semantics):
    *
    *  - `valid_from` = the version's `source_ts`
    *  - `valid_to`   = the NEXT change's `source_ts` (lead over ALL ops,
    *    deletes included — a delete closes the last interval without
    *    emitting a row), null while the version is still open
    *  - `is_current` = 1 iff `valid_to` is null; a key whose final op is
    *    'd' has no current row (tombstoned out, like the snapshot)
    *
    * Scale shape: identical to [[snapshotApply]] — ONE hash exchange on the
    * key, then lead() streams each partition in sort order; no second
    * shuffle, no self-join (the naive SCD2 build joins the changelog to
    * itself on key + next-seq, which is two exchanges and a sort-merge).
    * The pre-window projection keeps the exchange to 6 narrow columns. */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    scd2Versions(spark, dir).orderBy(col("key"), col("sequential_id"))

  /** [[scd2History]] without the presentation sort — the shape consumers
    * join against ([[pitLookup]]). */
  private[graft] def scd2Versions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("sequential_id"))
    cdcParseRoundtrip(spark, dir)
      .withColumn("key", col("trade_id") % 3000)
      .select(col("key"), col("op"), col("market"), col("trade_price"),
        col("sequential_id"), col("source_ts").as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .filter(col("op") =!= "d")
      .select(col("key"), col("sequential_id"), col("market"),
        col("trade_price"), col("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
  }

  val scd2HistorySql: String =
    s"""SELECT key, sequential_id, market, trade_price, valid_from,
       |  valid_to,
       |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_current
       |FROM (
       |  SELECT trade_id % 3000 AS key, op, market, trade_price,
       |    sequential_id, source_ts AS valid_from,
       |    lead(source_ts) OVER (PARTITION BY trade_id % 3000
       |      ORDER BY sequential_id) AS valid_to
       |  FROM (${cdcParseBodySql}) t) v
       |WHERE op <> 'd'
       |ORDER BY key, sequential_id""".stripMargin

  /** Point-in-time lookup against the SCD2 history — the warehouse query
    * the interval table exists for: for every probe `(key, ts)` find the
    * dimension version effective AT `ts` (`valid_from <= ts < valid_to`,
    * open intervals unbounded). Probes here are the changelog's own
    * `(key, source_ts)` pairs ("what did the dimension say when this event
    * happened"); a key tombstoned before `ts` correctly matches nothing.
    *
    * Out-of-order payload timestamps can make intervals of one key overlap
    * (the changelog order `sequential_id`, not the timestamps, is the
    * authority — see [[scd2History]]), so a probe may hit several versions;
    * the as-of rule picks the latest `valid_from` (ties: highest
    * `sequential_id`).
    *
    * Scale shape (pinned in Round6bOpsSpec): the history side is hashed
    * once on `key` for its lead() window; the equi-join streams over that
    * partitioning (range conditions ride along as join filters) and the
    * dedup window — partitioned on the HISTORY-side key attribute, see
    * below — reuses it too, so between the version build and the
    * presentation sort there is NO additional exchange, and the rank
    * filter runs as WindowGroupLimit (per-task top-1 before any data
    * moves). At dimension sizes past the broadcast threshold the same
    * shape holds with the probe side hashed instead of broadcast. */
  def pitLookup(spark: SparkSession, dir: String): DataFrame = {
    val hist = scd2Versions(spark, dir)
      .withColumnRenamed("key", "hkey")
      .withColumnRenamed("market", "h_market")
      .withColumnRenamed("trade_price", "h_price")
    val probes = cdcParseRoundtrip(spark, dir)
      .select(col("trade_id"), (col("trade_id") % 3000).as("key"),
        col("source_ts").as("ts"))
    // partition the dedup window on the HISTORY-side key attribute (equal
    // to the probe key on every joined row): the window's clustering then
    // matches the history input's hash partitioning, so no exchange lands
    // between join and window — Catalyst can't see cross-side attribute
    // equivalence from the probe-side `key`.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hkey"), col("trade_id"))
      .orderBy(col("valid_from").desc, col("sequential_id").desc)
    probes
      .join(hist, col("key") === col("hkey") &&
        col("ts") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("trade_id"), col("key"), col("ts"),
        col("sequential_id").as("version_seq"),
        col("h_market").as("market"), col("h_price").as("trade_price"))
      .orderBy(col("trade_id"))
  }

  val pitLookupSql: String =
    s"""WITH hist AS (
       |  SELECT key, sequential_id, market, trade_price, valid_from, valid_to
       |  FROM (
       |    SELECT trade_id % 3000 AS key, op, market, trade_price,
       |      sequential_id, source_ts AS valid_from,
       |      lead(source_ts) OVER (PARTITION BY trade_id % 3000
       |        ORDER BY sequential_id) AS valid_to
       |    FROM (${cdcParseBodySql}) t) v
       |  WHERE op <> 'd'),
       |probes AS (
       |  SELECT trade_id, trade_id % 3000 AS key, source_ts AS ts
       |  FROM (${cdcParseBodySql}) t)
       |SELECT p.trade_id, p.key, p.ts, h.sequential_id AS version_seq,
       |  h.market, h.trade_price
       |FROM probes p JOIN hist h ON p.key = h.key
       |  AND p.ts >= h.valid_from
       |  AND (h.valid_to IS NULL OR p.ts < h.valid_to)
       |QUALIFY row_number() OVER (PARTITION BY p.trade_id
       |  ORDER BY h.valid_from DESC, h.sequential_id DESC) = 1
       |ORDER BY p.trade_id""".stripMargin

  /** q_p13: INGEST-LATENCY SLO percentiles per CDC op — the ops-telemetry
    * query a production pipeline serves next to its data (`cdc_latency_ms
    * = connector ts − source commit ts`, the lag the reference's <5 s E2E
    * target is stated over): p50/p90/p99 per op type from the MERGEABLE
    * integer-exact log-histogram (the a20 HDR/DDSketch layout — counts
    * merge across partitions/windows/days, so the SLO dashboard never
    * rescans raw envelopes; a zero-latency row gets its own bucket −1
    * since ⌊log₂⌋ is undefined at 0). Zero float arithmetic anywhere —
    * bucket index via length(bin(ms)), bounds via integer shifts — so the
    * whole report replays bit-for-bit in DuckDB.
    *
    * Scale: ONE keyed aggregate to (op, bucket) counts with map-side
    * partials; the percentile pick is a cumulative window over ≤ ~200
    * aggregated rows. */
  def latencyHistogram(spark: SparkSession, dir: String): DataFrame = {
    val p = cdcParseRoundtrip(spark, dir)
      .select(col("op"), col("cdc_latency_ms").as("ms"))
    latencyPercentiles(
      latencyBuckets(p).groupBy(col("op"), col("bucket"), col("lo_ms"))
        .agg(count(lit(1)).as("cnt")))
  }

  /** The bucket projection of [[latencyHistogram]] on any (op, ms) frame —
    * shared with the streaming incremental maintenance (q_stream_latency),
    * which is the POINT of the layout: (op, bucket) counts merge by
    * addition, so a stream folds per-batch partials forever. */
  private[graft] def latencyBuckets(p: DataFrame): DataFrame =
    p.withColumn("bits", length(bin(col("ms"))).cast("long"))
      .withColumn("pow2",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bits - 1 AS INT))"))
      .withColumn("sub",
        ((col("ms") - col("pow2")) * 4L).divide(col("pow2")).cast("long"))
      .withColumn("bucket", when(col("ms") === 0L, lit(-1L))
        .otherwise((col("bits") - 1L) * 4L + col("sub")))
      .withColumn("lo_ms", when(col("ms") === 0L, lit(0L))
        .otherwise(col("pow2") +
          col("sub") * col("pow2").divide(4L).cast("long")))
      .select(col("op"), col("bucket"), col("lo_ms"))

  /** The serving stage: percentile picks from an (op, bucket, lo_ms, cnt)
    * count table — O(ops × buckets) rows however large the data was. */
  private[graft] def latencyPercentiles(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("op")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def pick(q: Int): Column =
      min(when(col("cum") * 100L >= col("n") * q, col("lo_ms")))
    hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("op"))))
      .groupBy(col("op"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_buckets"),
        pick(50).as("p50_lo_ms"), pick(90).as("p90_lo_ms"),
        pick(99).as("p99_lo_ms"))
      .orderBy(col("op"))
  }

  val latencyHistogramSql: String = {
    val parsed = cdcParseBodySql
    s"""WITH parsed AS ($parsed),
       |e AS (SELECT op, cdc_latency_ms AS ms FROM parsed),
       |b AS (SELECT op, ms, CAST(length(bin(ms)) AS BIGINT) AS bits FROM e),
       |k AS (SELECT op, ms, bits,
       |        CAST(1 AS BIGINT) << CAST(bits - 1 AS INT) AS pow2 FROM b),
       |s AS (
       |  SELECT op,
       |    CASE WHEN ms = 0 THEN -1
       |         ELSE (bits - 1) * 4 + ((ms - pow2) * 4) // pow2 END AS bucket,
       |    CASE WHEN ms = 0 THEN 0
       |         ELSE pow2 + ((ms - pow2) * 4) // pow2 * (pow2 // 4) END AS lo_ms
       |  FROM k),
       |hist AS (SELECT op, bucket, lo_ms, count(*) AS cnt
       |         FROM s GROUP BY 1, 2, 3),
       |cum AS (
       |  SELECT *,
       |    sum(cnt) OVER (PARTITION BY op ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(cnt) OVER (PARTITION BY op) AS n
       |  FROM hist)
       |SELECT op, CAST(max(n) AS BIGINT) AS n, count(*) AS n_buckets,
       |  min(CASE WHEN cum * 100 >= n * 50 THEN lo_ms END) AS p50_lo_ms,
       |  min(CASE WHEN cum * 100 >= n * 90 THEN lo_ms END) AS p90_lo_ms,
       |  min(CASE WHEN cum * 100 >= n * 99 THEN lo_ms END) AS p99_lo_ms
       |FROM cum GROUP BY op ORDER BY op""".stripMargin
  }

  /** q_p14: PER-PARTITION ORDERING AUDIT — the exactly-once/ordering QA a
    * CDC consumer runs against its broker: within each market (the natural
    * Kafka-partition key of the reference feed), replay events in ARRIVAL
    * order and count `sequential_id` regressions (an inversion = the
    * upstream total order was violated by transport) plus the worst
    * backward jump. The raw synthetic feed is perfectly ordered (the audit
    * would report a vacuous all-zero), so arrivals go through the SAME
    * deterministic perturbation q_p11's late-data tuning table is built on
    * (every 101st trade redelivered 7 days late, every 103rd lagging 6
    * hours) — the audit then measures real damage: ~97 inversions across
    * half the markets at sf0.01, exactly what the watermark/dedup settings
    * tuned by p11/s3 have to absorb.
    *
    * Scale shape: one window pass partitioned by market (the feed's own
    * partition key — state is one lag row per partition) over a 4-column
    * projection, then a keyed count; the tie-break (arrival,
    * sequential_id, trade_id) is total, so the lag sequence is
    * deterministic cross-engine. Shared SQL body, zero dialect forks. */
  def orderingAudit(spark: SparkSession, dir: String): DataFrame = {
    val p = cdcParseRoundtrip(spark, dir)
      .select(col("market"), col("sequential_id"), col("trade_id"),
        col("cdc_ts"))
    p.createOrReplaceTempView("p14_parsed")
    spark.sql(orderingAuditBody("p14_parsed"))
  }

  private def orderingAuditBody(rel: String): String =
    s"""WITH cm AS (SELECT max(cdc_ts) AS cmax FROM $rel),
       |arr AS (
       |  SELECT market, sequential_id, trade_id,
       |    cdc_ts + CASE
       |      WHEN trade_id % 101 = 0 AND cdc_ts <= cmax - 691200000
       |        THEN 604800000
       |      WHEN trade_id % 103 = 0 AND trade_id % 101 <> 0
       |        THEN 21600000
       |      ELSE 0 END AS arrival
       |  FROM $rel CROSS JOIN cm),
       |seq AS (
       |  SELECT market, sequential_id, arrival,
       |    lag(sequential_id) OVER (PARTITION BY market
       |      ORDER BY arrival, sequential_id, trade_id) AS prev_seq
       |  FROM arr)
       |SELECT market,
       |  count(*) AS n_events,
       |  CAST(SUM(CASE WHEN prev_seq > sequential_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_inversions,
       |  CAST(coalesce(MAX(CASE WHEN prev_seq > sequential_id
       |    THEN prev_seq - sequential_id END), 0) AS BIGINT)
       |    AS max_regression
       |FROM seq GROUP BY market ORDER BY market""".stripMargin

  val orderingAuditSql: String = {
    val parsed = cdcParseBodySql
    s"WITH parsed AS ($parsed),\n" +
      orderingAuditBody("parsed").stripPrefix("WITH ")
  }
}
