package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.types._

import graft.{Artifact, Entries, Entry, Scratch, Tables}
import graft.functions.GraftExtensions.cosineSim

/** Streaming surface (SURVEY.md §2.9).
  *
  * The reference's "near-real-time" mode is micro-batched chunk processing:
  * a FIFO queue of transaction chunks joined against cycling dim partitions
  * (`MeshJoin.java:225-274`), upserted into the fact. Structured Streaming
  * expresses the same intent natively: file-source micro-batches
  * (`maxFilesPerTrigger` ≙ chunkSize), stream-static broadcast join, and
  * `foreachBatch` + keyed dedup for the upsert sink. Event-time windows and
  * watermarks — absent in the reference — are part of the extension surface.
  *
  * Each windowed aggregation ships as a pair: the streaming plan (tested for
  * stream≡batch equivalence in StreamingSpec) and a batch twin listed in
  * `entries` so the driver's DuckDB oracle can hash-check the semantics.
  */
object Streams extends Entries {

  /** Event schema as the streaming reader needs it declared up front.
    * The harness writes `ts` as timestamp[us] without timezone → declared
    * TIMESTAMP_NTZ here and normalized to instant-semantics TimestampType
    * right after the read (sessions pin UTC, so the cast is epoch-exact —
    * same contract as Tables.events). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** NTZ→instant normalization applied after every raw events read. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.withColumn("ts", col("ts").cast(TimestampType))

  /** Streaming events source over the parquet table (file source micro-
    * batches; `maxFilesPerTrigger=1` mirrors the reference's chunked reads).
    * The file source wants a directory of files — the production layout —
    * so the single-file test table is staged into a temp directory. */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staged = Files.createTempDirectory("graft_events_stream")
    Files.copy(Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    normalizeTs(s.readStream
      .schema(eventsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString))
  }

  // --- tumbling window -------------------------------------------------------

  /** Hourly tumbling-window aggregate per event type; watermark bounds state
    * at scale (10 min of allowed lateness). */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Batch twin of [[tumblingAgg]] for the oracle gate. */
  def st01Tumbling(s: SparkSession, d: String): DataFrame =
    tumblingAgg(Tables.events(s, d))
      .orderBy(col("window_start"), col("event_type"))

  val st01Sql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // --- sliding window --------------------------------------------------------

  /** 2-hour windows sliding every hour — each event lands in two windows. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))

  def st02Sliding(s: SparkSession, d: String): DataFrame =
    slidingAgg(Tables.events(s, d))
      .orderBy(col("window_start"), col("event_type"))

  // A 2h/1h sliding window assigns each event to starts
  // {trunc_hour(ts), trunc_hour(ts) - 1h}: expressible as a UNION ALL.
  val st02Sql: String =
    """WITH assigned AS (
      |  SELECT date_trunc('hour', ts) AS window_start, event_type FROM events
      |  UNION ALL
      |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, event_type FROM events
      |)
      |SELECT window_start, event_type, COUNT(*) AS n_events
      |FROM assigned GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // --- session window --------------------------------------------------------

  /** Gap-based sessionization per user (2-hour inactivity gap) — the
    * stateful-aggregation shape the reference's queue loosely approximates;
    * in Spark it's the native session_window (state-store backed when
    * streaming). */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "2 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("user_id"), col("n_events"))

  def st03Session(s: SparkSession, d: String): DataFrame =
    sessionAgg(Tables.events(s, d))
      .orderBy(col("user_id"), col("session_start"))

  // Gaps-and-islands twin: a new session starts when the gap >= 2h.
  val st03Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 2 HOUR
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |), numbered AS (
      |  SELECT user_id, ts,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked
      |)
      |SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n_events
      |FROM numbered GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  // --- custom state: mapGroupsWithState --------------------------------------

  /** Running per-user aggregate maintained in explicit keyed state —
    * the `KeyValueGroupedDataset.mapGroupsWithState` surface for state the
    * built-in windows can't express (the reference's chunk queue is exactly
    * such hand-rolled state, `MeshJoin.java:225-274`). Values accumulate in
    * BigDecimal (scale 2, HALF_UP — the same rounding as a DECIMAL(18,2)
    * cast) so the result is independent of arrival order and bit-identical
    * to the batch twin / DuckDB oracle. State is per-user and O(1) per key;
    * a production stream would add a GroupStateTimeout to bound the key
    * space. Runs identically over a batch Dataset (st04 below) and a stream
    * (StreamingSpec, update mode). */
  def statefulUserAgg(s: SparkSession, events: DataFrame): Dataset[UserRunningAgg] = {
    import s.implicits._
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, BigDecimal), UserRunningAgg](
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        var (n, total) = state.getOption.getOrElse((0L, BigDecimal(0)))
        rows.foreach { case (_, v) =>
          n += 1
          total += BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        }
        state.update((n, total))
        UserRunningAgg(uid, n, total.toDouble)
      }
  }

  /** Batch twin: the same mapGroupsWithState code path evaluated over the
    * bounded events table (Spark runs the operator with transient state). */
  def st04Stateful(s: SparkSession, d: String): DataFrame =
    statefulUserAgg(s, Tables.events(s, d))
      .toDF()
      .orderBy(col("user_id"))

  val st04Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- streaming dedup -------------------------------------------------------

  /** Streaming exact deduplication: first arrival per (user_id, event_type)
    * wins, subsequent duplicates are dropped across micro-batches (state
    * keyed on the dedup columns — the streaming face of the d01/exact-dedup
    * operator; with a watermark the state would age out, which is how a
    * production stream bounds it). The kept key set is deterministic even
    * though "first arrival" within a batch is not, so the batch twin (and
    * oracle) compares the distinct key set. */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  def st05Dedup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("event_type")).distinct()
      .orderBy(col("user_id"), col("event_type"))

  val st05Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** st12 core: BOUNDED-STATE streaming dedup via
    * `dropDuplicatesWithinWatermark` — the production fix for st05's honest
    * flaw (plain `dropDuplicates` keeps every key ever seen; state grows
    * with history forever). Bounded state needs a bounded guarantee: the
    * dedup key carries the event's DAY, and the watermark delay (25 h)
    * exceeds the largest possible intra-key event-time spread (< 24 h by
    * construction of the key), so every duplicate is guaranteed to arrive
    * within the first occurrence's watermark window — dedup is EXACT, equal
    * to the batch distinct, while state evicts one day behind the watermark
    * (∝ active-day keys, not history).
    *
    * The 25 h ≥ 24 h argument covers the intra-key event-time SPREAD; full
    * exactness additionally assumes bounded out-of-order DELIVERY: no
    * record arrives more than 25 h late in event time relative to the
    * stream's high-water mark (`dropDuplicatesWithinWatermark` silently
    * DROPS later-than-watermark records rather than deduping them). The
    * StreamingSpec replay satisfies this (single ordered source file ⇒
    * zero delivery lag); a production deployment must either get the bound
    * from its transport (e.g. per-partition ordered Kafka with bounded
    * producer lateness) or widen the delay to its observed p100 lag. This
    * is the pattern for exact streaming dedup at 100 TB: bucket the key by
    * a time grain the delay covers, and size the delay to spread + lag. */
  def boundedDedup(events: DataFrame): DataFrame =
    events
      .withColumn("day_ms", unix_millis(date_trunc("day", col("ts"))))
      .withWatermark("ts", "25 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day_ms")
      .select(col("user_id"), col("event_type"), col("day_ms"))

  /** Batch twin of [[boundedDedup]] (exact by the 25h ≥ 24h argument). */
  def st12BoundedDedup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_millis(date_trunc("day", col("ts"))).as("day_ms"))
      .distinct()
      .orderBy(col("user_id"), col("event_type"), col("day_ms"))

  val st12Sql: String =
    """SELECT DISTINCT user_id, event_type,
      |  epoch_ms(date_trunc('day', ts)) AS day_ms
      |FROM events ORDER BY user_id, event_type, day_ms""".stripMargin

  // --- streaming top-k -------------------------------------------------------

  private val StreamTopK = 5

  /** Per-key top-k maintained as explicit keyed state — the streaming face
    * of the o04/o05 bounded-heap aggregates: each event type keeps its
    * k best (value, event_id) pairs across micro-batches, state O(k) per
    * key forever. Insertion keeps the total order (value DESC, event_id
    * ASC), and take-k of a sorted union is associative + commutative, so
    * the converged result is independent of arrival order and micro-batch
    * slicing — StreamingSpec asserts stream ≡ batch, the oracle pins the
    * window-model semantics. `n_seen` is a monotone progress counter the
    * spec uses to pick each key's final update-mode row. */
  def statefulTopK(s: SparkSession, events: DataFrame): Dataset[TypeTopK] = {
    import s.implicits._
    events.select(col("event_type"), col("value"), col("event_id"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, List[(Double, Long)]), TypeTopK](
        GroupStateTimeout.NoTimeout()) { case (etype, rows, state) =>
        var (n, top) = state.getOption.getOrElse((0L, List.empty[(Double, Long)]))
        val batch = rows.map { case (_, v, id) => (v, id) }.toList
        n += batch.size
        top = (top ++ batch).sortBy { case (v, id) => (-v, id) }.take(StreamTopK)
        state.update((n, top))
        TypeTopK(etype, n, top.map(_._2), top.map(_._1))
      }
  }

  /** Batch twin (gate entry): the same operator over the bounded table,
    * flattened to ranked rows. */
  def st09TopK(s: SparkSession, d: String): DataFrame =
    statefulTopK(s, Tables.events(s, d)).toDF()
      .select(col("event_type"),
        posexplode(arrays_zip(col("vals"), col("ids"))).as(Seq("pos", "e")))
      .select(col("event_type"),
        (col("pos") + 1).cast(IntegerType).as("rank"),
        col("e.ids").as("event_id"),
        col("e.vals").as("value"))
      .orderBy(col("event_type"), col("rank"))

  val st09Sql: String =
    s"""SELECT event_type, CAST(rnk AS INTEGER) AS rank, event_id, value
       |FROM (
       |  SELECT event_type, event_id, value,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY value DESC, event_id) AS rnk
       |  FROM events)
       |WHERE rnk <= $StreamTopK
       |ORDER BY event_type, rank""".stripMargin

  // --- stream-stream join ----------------------------------------------------

  /** Stream-stream inner join with an event-time range: each purchase
    * joined to the SAME user's views in the preceding hour — the streaming
    * face of the batch range join (j11). Both sides carry watermarks and
    * the join condition bounds event time, so Spark can expire join state:
    * the view side retains ~1 h + lateness of rows per user, the purchase
    * side only the lateness slack — bounded state at any stream length,
    * which is the entire trick of production stream-stream joins. The
    * range arithmetic stays in timestamp µs (exact integers in both
    * engines); only the output boundary converts to epoch-millis. */
  def streamStreamJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"))
      .select(col("purchase_id"), unix_millis(col("v_ts")).as("view_ms"))
  }

  /** Batch twin of [[streamStreamJoin]] for the oracle gate. */
  def st06StreamStreamJoin(s: SparkSession, d: String): DataFrame =
    streamStreamJoin(Tables.events(s, d))
      .orderBy(col("purchase_id"), col("view_ms"))

  val st06Sql: String =
    """SELECT p.event_id AS purchase_id, epoch_ms(v.ts) AS view_ms
      |FROM events p JOIN events v
      |  ON p.event_type = 'purchase' AND v.event_type = 'view'
      | AND p.user_id = v.user_id
      | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
      |ORDER BY purchase_id, view_ms""".stripMargin

  /** st11 core: LEFT-OUTER stream-stream interval join — the capability gap
    * between st06 and a production attribution pipeline: purchases with NO
    * qualifying view in the trailing hour must still come out (with a null
    * view) or the funnel undercounts organic purchases. This is exactly
    * what outer interval joins + watermarks exist for in Structured
    * Streaming: a purchase is held in state until the view-side watermark
    * passes its timestamp (no qualifying view can arrive anymore), then
    * emitted unmatched — state stays bounded by interval + watermark delay,
    * the same guarantee as the inner join, and the null row is emitted
    * exactly once. The spec proves matched rows ≡ batch and unmatched rows
    * ≡ batch-unmatched up to the final watermark (rows the watermark never
    * passes stay in state — the honest streaming semantics, st08's move). */
  def streamStreamOuterJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("p_ts"),
      "left_outer")
      .select(col("purchase_id"), unix_millis(col("p_ts")).as("purchase_ms"),
        unix_millis(col("v_ts")).as("view_ms"))
  }

  /** Batch twin of [[streamStreamOuterJoin]] for the oracle gate. */
  def st11OuterJoin(s: SparkSession, d: String): DataFrame =
    streamStreamOuterJoin(Tables.events(s, d))
      .orderBy(col("purchase_id"), col("view_ms"))

  val st11Sql: String =
    """SELECT p.event_id AS purchase_id, epoch_ms(p.ts) AS purchase_ms,
      |  epoch_ms(v.ts) AS view_ms
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id
      | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
      |ORDER BY purchase_id, view_ms""".stripMargin

  // --- streaming corpus ingest ----------------------------------------------

  /** Documents schema as the streaming reader needs it declared up front. */
  val documentsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming documents source. The single-file test table is staged as
    * FOUR files so the stream genuinely runs multiple micro-batches — the
    * dedup state below has to carry across batch boundaries to prove
    * anything. */
  def documentsStream(s: SparkSession, dir: String): DataFrame = {
    val staged = java.nio.file.Files.createTempDirectory("graft_docs_stream")
    Tables.documents(s, dir).repartition(4)
      .write.mode("overwrite").parquet(staged.toString)
    s.readStream
      .schema(documentsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
  }

  /** Streaming corpus ingest — the streaming face of the x06 training-data
    * pipeline: quality-score each arriving document (stateless scan, the
    * x03 expression verbatim), drop those under threshold, and exact-dedup
    * by content digest ACROSS micro-batches (state keyed on (lang, md5) —
    * a re-crawled duplicate arriving an hour later is still dropped; a
    * production stream adds a watermark to age the key space out). Emits
    * the kept (lang, fp) keys; which physical copy survives is arrival-
    * order-dependent but the KEY SET is not, so the batch twin compares
    * sets (same contract as st05). */
  def corpusIngest(docs: DataFrame): DataFrame =
    docs
      .withColumn("quality", graft.functions.TextAnalysis.qualityCol)
      .filter(col("quality") >= 0.45)
      .withColumn("fp", md5(col("text")))
      .dropDuplicates("lang", "fp")
      .select(col("lang"), col("fp"))

  /** Batch twin: distinct surviving content per language, aggregated. */
  def st07CorpusIngest(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("quality", graft.functions.TextAnalysis.qualityCol)
      .filter(col("quality") >= 0.45)
      .select(col("lang"), md5(col("text")).as("fp")).distinct()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  val st07Sql: String = {
    val enList = graft.functions.StopwordHits.lists.head._2
      .map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT lang, text,
       |    CAST(length(text) AS DOUBLE) AS len,
       |    CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS nt,
       |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> t IN ($enList))) AS DOUBLE) AS nstop,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) AS npunct
       |  FROM documents
       |), q AS (
       |  SELECT lang, md5(text) AS fp,
       |    least(len / 500.0, 1.0) * 0.4
       |      + least(nstop * 5.0 / nt, 1.0) * 0.4
       |      + (1.0 - least(npunct * 10.0 / len, 1.0)) * 0.2 AS quality
       |  FROM base)
       |SELECT lang, COUNT(DISTINCT fp) AS n_docs
       |FROM q WHERE quality >= 0.45
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --- streaming OHLC bars ---------------------------------------------------

  /** st16 core: streaming OHLC — w19's streaming face. The bar is carried
    * as ALGEBRAIC state: the open/close endpoints ride `min`/`max` over
    * the lexicographic struct (ts, event_id, value) — order-free and
    * mergeable, so the converged update-mode row per (user, hour) equals
    * the batch twin under ANY micro-batch slicing (the st04/st09
    * convergence contract; a `first()` endpoint would depend on arrival
    * order and could never converge). high/low/count are plain min/max/
    * count and the volume sum accumulates in DECIMAL. State is one
    * constant-size row per open (user, hour) bar; production ages closed
    * bars with a watermark exactly like st12's day-bucketed dedup key. */
  def streamingOhlc(events: DataFrame): DataFrame =
    events
      .withColumn("hr", date_trunc("hour", col("ts")))
      .groupBy(col("user_id"), col("hr"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("cl"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).as("vsum"))
      .select(col("user_id"),
        date_format(col("hr"), "yyyy-MM-dd HH:00").as("hr"),
        col("o.value").as("open"), col("high"), col("low"),
        col("cl.value").as("close"),
        col("n_events"), col("vsum").cast(DoubleType).as("sum_value"))

  /** Batch twin (the gate entry): the same algebraic core over the whole
    * slice at once — contract-identical to w19 through a DIFFERENT
    * mechanism (endpoint structs here, rank windows there), sharing w19's
    * oracle so the two can never drift. */
  def st16StreamOhlc(s: SparkSession, d: String): DataFrame =
    streamingOhlc(Tables.events(s, d)
        .filter(col("user_id") % 10 === 7)
        .select(col("user_id"), col("event_id"), col("ts"), col("value")))
      .orderBy(col("user_id"), col("hr"))

  // --- streaming incremental dedup -------------------------------------------

  /** st13 core: INCREMENTAL dedup as a stream — d11's production face. A
    * re-crawl arrives as micro-batches; each record checks the STATIC
    * fingerprint store (stream-static left join on the digest — the store
    * grows with everything ever crawled, so it carries NO broadcast hint:
    * the join shuffles on fp and AQE runtime-broadcasts only while the
    * measured store fits) and the cross-micro-batch
    * arrival history (a streaming aggregation keyed on the digest). The
    * output row per fingerprint is the CONVERGED verdict: n_arrivals,
    * first (minimum) batch doc id, the store canonical when the content
    * was already known. Count and min are order-free, so the final
    * update-mode row per key equals the batch twin no matter how the
    * stream is sliced into micro-batches (the st04/st09 convergence
    * contract — StreamingSpec asserts it). State is one row per DISTINCT
    * batch fingerprint — ∝ novel content, not arrivals; a production
    * deployment ages it with a watermark exactly like st12's day-bucketed
    * dedup key. */
  def streamingIncrementalDedup(batch: DataFrame, store: DataFrame): DataFrame =
    batch.join(store, Seq("fp"), "left")
      .groupBy(col("fp"), col("store_canonical"))
      .agg(count(lit(1)).as("n_arrivals"), min(col("doc_id")).as("first_doc_id"))
      .select(col("fp"), col("n_arrivals"), col("first_doc_id"),
        col("store_canonical"),
        when(col("store_canonical").isNotNull, lit("dup_of_store"))
          .when(col("n_arrivals") > 1, lit("dup_in_batch"))
          .otherwise(lit("unique")).as("status"))

  /** Batch twin: the same join + aggregation over the whole planted
    * re-crawl at once (shared [[graft.operators.Dedup.d11Batch]] /
    * [[graft.operators.Dedup.d11Store]] constructions — operator, stream
    * and spec cannot drift). */
  def st13IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val batch = graft.operators.Dedup.d11Batch(docs)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    streamingIncrementalDedup(batch, graft.operators.Dedup.d11Store(docs))
      .orderBy(col("fp"))
  }

  val st13Sql: String =
    """WITH batch AS (
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' rev2' FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT doc_id + 3000000, text || ' rev2' FROM documents WHERE doc_id % 15 = 1),
      |store AS (
      |  SELECT md5(text) AS fp, MIN(doc_id) AS store_canonical
      |  FROM documents GROUP BY 1)
      |SELECT md5(b.text) AS fp, CAST(COUNT(*) AS BIGINT) AS n_arrivals,
      |  MIN(b.doc_id) AS first_doc_id, s.store_canonical,
      |  CASE WHEN s.store_canonical IS NOT NULL THEN 'dup_of_store'
      |       WHEN COUNT(*) > 1 THEN 'dup_in_batch' ELSE 'unique' END AS status
      |FROM batch b LEFT JOIN store s ON md5(b.text) = s.fp
      |GROUP BY 1, 4 ORDER BY fp""".stripMargin

  // --- custom state: flatMapGroupsWithState ----------------------------------

  /** st14 core: SESSIONIZATION in explicit keyed state — w12's streaming
    * face, and the `flatMapGroupsWithState` surface (0..n output rows per
    * key per batch — `mapGroupsWithState`'s exactly-one contract cannot
    * emit "all sessions closed this batch").
    *
    * State per user = the OPEN session (index, start, end, n, decimal
    * total). Each invocation folds the batch's rows in (ms, event_id)
    * order into that state, emitting a session whenever a gap > 30 min
    * closes it. A FLUSH SENTINEL (event_id < 0, timestamped past every
    * real event + gap) closes the final open session of each user —
    * the standard end-of-stream marker pattern: without it the last
    * session sits in state forever, because batch execution never fires
    * timeouts and a file stream's watermark only advances while data
    * still flows. Sentinels emit nothing themselves and never open a
    * session. The same code path runs over the bounded Dataset (the gate
    * entry, equal to w12 row for row) and the two-file stream
    * (StreamingSpec: events in batch 1, sentinels in batch 2, so sessions
    * provably survive a state round-trip between micro-batches).
    *
    * Scale: state is O(1) per user (one open session), the shuffle is the
    * groupByKey on user_id — the same single-shuffle shape as w12's
    * window; a production stream would add GroupStateTimeout.EventTimeTimeout
    * as the sentinel-less fallback for abandoned keys. Values accumulate
    * in BigDecimal scale 2 (the st04 discipline) so totals are
    * arrival-order-independent and bit-identical to the DuckDB oracle. */
  def sessionizeWithState(s: SparkSession, events: DataFrame): Dataset[SessionRow] = {
    import s.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        val gap = graft.operators.Aggregates.SessionGapMs
        val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
        // deterministic fold order within the batch; cross-batch order is
        // the source's (events file before sentinel file)
        var open = state.getOption
        rows.toSeq.sortBy(t => (t._3, t._2)).foreach { case (_, eid, ms, v) =>
          val dv = if (eid < 0) BigDecimal(0)
            else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          open match {
            case Some(o) if ms - o.end > gap =>
              out += SessionRow(uid, o.idx, o.n, o.start, o.end, o.total.toDouble)
              open = if (eid < 0) None
                else Some(OpenSession(o.idx + 1, ms, ms, 1L, dv))
            case Some(o) =>
              open = Some(o.copy(end = ms, n = o.n + 1, total = o.total + dv))
            case None =>
              open = if (eid < 0) None else Some(OpenSession(1L, ms, ms, 1L, dv))
          }
        }
        open match {
          case Some(o) => state.update(o)
          case None    => state.remove()
        }
        out.iterator
      }
  }

  /** Per-user flush sentinels: one row per user, later than every real
    * event plus the gap, so folding it is guaranteed to close whatever
    * session is open. Shared by the gate entry and StreamingSpec's staged
    * second file. */
  private[graft] def sessionSentinels(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(max(unix_millis(col("ts"))).as("mx"))
      .select(lit(-1L).as("event_id"),
        timestamp_millis(col("mx") + graft.operators.Aggregates.SessionGapMs + 1L)
          .as("ts"),
        col("user_id"), lit("flush").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))

  /** Batch twin (the gate entry): the same flatMapGroupsWithState code path
    * over events + sentinels — equal to w12's window form row for row
    * (same oracle SQL). */
  def st14SessionizeState(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    sessionizeWithState(s,
      ev.select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .unionByName(sessionSentinels(ev)))
      .toDF()
      .orderBy(col("user_id"), col("session_idx"))
  }

  // --- streaming EWMA (w21's streaming face) ---------------------------------

  /** st17 core: streaming EWMA — w21's streaming face, and the SEQUENTIAL
    * member of the stateful family (st04's running agg is order-free,
    * st16's bars are algebraic; a truncated EWMA is neither — each row's
    * value depends on the exact trailing frame, so the state IS the frame).
    * State per user = the ring of its last ≤7 quantized values, most
    * recent first, plus the emitted-row count; each arriving event emits
    * its w21 row (weights 2^7..2^0 over current + ring) and pushes itself
    * onto the ring. Rows fold in (ms, event_id) order within a batch and
    * the file source delivers micro-batches in time order, so the fold
    * order is the batch twin's sort — StreamingSpec proves frames that
    * SPAN a micro-batch boundary reproduce the window result, which is
    * exactly the state round-trip an order-free aggregate never exercises.
    *
    * Scale: state is O(1) per user (7 longs); one groupByKey shuffle —
    * the same shape as w21's one window exchange. A production stream
    * ages idle keys with an event-time timeout. */
  def ewmaWithState(s: SparkSession, events: DataFrame): Dataset[EwmaRow] = {
    import s.implicits._
    events
      .filter(col("user_id") % 10 === 3)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        (col("value").cast(DecimalType(18, 3)) * 1000).cast(LongType).as("mv"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        var st = state.getOption.getOrElse(EwmaState(Nil, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[EwmaRow]
        rows.toSeq.sortBy(t => (t._3, t._2)).foreach { case (_, eid, _, mv) =>
          var num = 128L * mv
          var den = 128L
          st.ring.zipWithIndex.foreach { case (v, j) =>
            num += v << (6 - j); den += 1L << (6 - j)
          }
          val seq = st.seq + 1
          out += EwmaRow(uid, seq, eid, mv, num, den, num.toDouble / den / 1000)
          st = EwmaState((mv +: st.ring).take(7), seq)
        }
        state.update(st)
        out.iterator
      }
  }

  /** Batch twin (the gate entry): the same state-fold code path over the
    * bounded table — equal to w21's lag-term window form row for row
    * (same oracle SQL). */
  def st17StreamEwma(s: SparkSession, d: String): DataFrame =
    ewmaWithState(s, Tables.events(s, d))
      .toDF()
      .orderBy(col("user_id"), col("seq"))

  // --- streaming CDC apply (s17's streaming face) ----------------------------

  /** st18 core: streaming CDC APPLY — s17's MERGE-apply as continuously
    * maintained state (the change log never stops arriving in production;
    * re-running the batch window per snapshot re-sorts the whole log).
    * The per-key current row is ALGEBRAIC: last-writer = max over the
    * lexicographic (ms, event_id, op, value) struct — the log's
    * (ms, event_id) is unique per key, so op/value never decide the max —
    * and n_ops = count; both order-free and mergeable, so the converged
    * update-mode row per key equals the batch twin under ANY micro-batch
    * slicing (the st04/st09 convergence contract). Tombstone suppression
    * (a key whose LAST op is a delete must vanish) is a FILTER ON READ of
    * the state — the merge-on-read pattern: state keeps the tombstone so
    * a later upsert still sees the full n_ops history, and consumers read
    * only op = 'U' rows. State is one constant-size row per key. */
  def streamingCdcApply(events: DataFrame): DataFrame =
    events.select(col("user_id"), struct(
        unix_millis(col("ts")).as("ms"), col("event_id"),
        when(col("event_type") === "click", lit("D")).otherwise(lit("U")).as("op"),
        col("value")).as("rec"))
      .groupBy(col("user_id"))
      .agg(max(col("rec")).as("last"), count(lit(1)).as("n_ops"))

  /** Batch twin (the gate entry): the state read with tombstones
    * suppressed — equal to s17's rank-window form row for row (same
    * oracle SQL), through the aggregation mechanism a stream can run. */
  def st18StreamCdc(s: SparkSession, d: String): DataFrame =
    streamingCdcApply(Tables.events(s, d))
      .filter(col("last.op") === "U")
      .select(col("user_id"), col("last.value").as("current_value"),
        col("last.ms").as("updated_ms"), col("n_ops"))
      .orderBy(col("user_id"))

  // --- streaming CUSUM (w22's streaming face) --------------------------------

  /** st19 core: streaming CUSUM — w22's drift detector as keyed state.
    * Where the batch form uses the closed form (cum − prefix-min via two
    * windows), the stream carries the recursion DIRECTLY: state per user
    * is (running cum, running min(0, cum), emitted count) — three longs —
    * and each arriving event emits its w22 row. Completes the stateful
    * triad with st17: EWMA (bounded ring), sessionize (open interval),
    * CUSUM (two accumulators); same in-batch (ms, event_id) fold order,
    * same time-ordered file-source contract, StreamingSpec proves the
    * accumulators survive a micro-batch boundary. */
  def cusumWithState(s: SparkSession, events: DataFrame): Dataset[CusumRow] = {
    import s.implicits._
    events
      .filter(col("user_id") % 10 === 5)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        (col("value").cast(DecimalType(18, 3)) * 1000).cast(LongType).as("mv"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[CusumRow]
        rows.toSeq.sortBy(t => (t._3, t._2)).foreach { case (_, eid, _, mv) =>
          val cum = st.cum + (mv - 60000L)
          val smin = math.min(st.smin, math.min(cum, 0L))
          val seq = st.seq + 1
          val cusum = cum - smin
          out += CusumRow(uid, seq, eid, mv, cusum, cusum > 500000L)
          st = CusumState(cum, smin, seq)
        }
        state.update(st)
        out.iterator
      }
  }

  /** Batch twin (the gate entry): the recursion replayed by the same code
    * path over the bounded table — equal to w22's closed form row for row
    * (same oracle SQL). */
  def st19StreamCusum(s: SparkSession, d: String): DataFrame =
    cusumWithState(s, Tables.events(s, d))
      .toDF()
      .orderBy(col("user_id"), col("seq"))

  // --- streaming rolling z-score (the stateful anomaly face) -----------------

  /** st21 core: streaming ROLLING Z-SCORE — the per-event anomaly monitor
    * as keyed state, completing the stateful time-series set (st17 level,
    * st19 drift, st21 excursion). State per user is the ring of its last
    * ≤7 milli-quantized values plus the emitted count (st17's frame-
    * carrying shape — a trailing z-score is frame-dependent, so the state
    * IS the frame); each arriving event emits its row with
    * z = (8x − Σ)/√(8·Σx² − Σ²) over the 8-value frame (current + ring),
    * NULL while the frame is short or flat. All frame sums are exact
    * BIGINTs; the one IEEE sqrt+division lands at the output boundary in
    * the oracle's expression shape (w23/w24's discipline). */
  def zscoreWithState(s: SparkSession, events: DataFrame): Dataset[ZscoreRow] = {
    import s.implicits._
    events
      .filter(col("user_id") % 10 === 7)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        (col("value").cast(DecimalType(18, 3)) * 1000).cast(LongType).as("mv"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ZscoreState, ZscoreRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        var st = state.getOption.getOrElse(ZscoreState(Nil, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[ZscoreRow]
        rows.toSeq.sortBy(t => (t._3, t._2)).foreach { case (_, eid, _, mv) =>
          val seq = st.seq + 1
          val frame = mv +: st.ring
          val z: Option[Double] = if (frame.length == 8) {
            // BigInt, matching the oracle's HUGEINT: a Long s1² wraps
            // silently once mean |value| ≳ 4e5 (s1 ≳ 3e9) and the
            // stream≡batch equivalence would break only at that scale
            // (the w24 test replay already uses BigInt for the same sums)
            val s1 = BigInt(frame.sum)
            val s2 = frame.map(v => BigInt(v) * v).sum
            val den = 8 * s2 - s1 * s1
            if (den > 0)
              Some(BigDecimal((BigInt(8) * mv - s1).toDouble / math.sqrt(den.toDouble))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            else None
          } else None
          out += ZscoreRow(uid, seq, eid, mv, z)
          st = ZscoreState(frame.take(7), seq)
        }
        state.update(st)
        out.iterator
      }
  }

  /** Batch twin (the gate entry): the same state fold over the bounded
    * table — equal to the trailing-frame window form row for row. */
  def st21StreamZscore(s: SparkSession, d: String): DataFrame =
    zscoreWithState(s, Tables.events(s, d))
      .toDF()
      .orderBy(col("user_id"), col("seq"))

  val st21Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS mv
      |  FROM events WHERE user_id % 10 = 7),
      |t AS (
      |  SELECT user_id, event_id, mv, ts,
      |    row_number() OVER win AS seq
      |  FROM e
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |f AS (
      |  SELECT user_id, seq, event_id, mv,
      |    COUNT(*) OVER fr AS cnt,
      |    SUM(mv) OVER fr AS s1,
      |    SUM(CAST(mv AS HUGEINT) * mv) OVER fr AS s2
      |  FROM t
      |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
      |SELECT user_id, seq, event_id, mv,
      |  CASE WHEN cnt = 8 AND (8 * s2 - CAST(s1 AS HUGEINT) * s1) > 0
      |    THEN round(CAST(8 * mv - s1 AS DOUBLE)
      |      / sqrt(CAST(8 * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)), 6)
      |  END AS z
      |FROM f ORDER BY user_id, seq""".stripMargin

  // --- streaming interval coverage (w27's streaming face) --------------------

  /** st22 core: streaming INTERVAL COVERAGE — w27's gaps-and-islands as
    * keyed state. Where the batch form needs two windows over a sort, the
    * stream carries the sweep DIRECTLY: state per user is the OPEN island
    * (start, running max end) plus the closed islands' count and covered
    * total — four longs — and events folding in time order either extend
    * the open island or close it and open the next. The w12/st14 flush
    * sentinel closes the last island and emits the user's one summary row
    * (w27's schema, same oracle SQL verbatim). State is O(1) per user;
    * one groupByKey shuffle — the same key shuffle as w27's window. */
  def coverageWithState(s: SparkSession, events: DataFrame): Dataset[CoverageRow] = {
    import s.implicits._
    val cover = 1800000L
    events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CoverageState, CoverageRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        var st = state.getOption.getOrElse(CoverageState(-1L, -1L, 0L, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[CoverageRow]
        rows.toSeq.sortBy(t => (t._3, t._2)).foreach { case (_, eid, ms) =>
          if (eid < 0) {
            if (st.start >= 0)
              out += CoverageRow(uid, st.islands + 1,
                st.covered + (st.end - st.start))
            st = CoverageState(-1L, -1L, 0L, 0L)
          } else if (st.start < 0) {
            st = st.copy(start = ms, end = ms + cover)
          } else if (ms > st.end) {
            st = CoverageState(ms, ms + cover, st.islands + 1,
              st.covered + (st.end - st.start))
          } else {
            st = st.copy(end = math.max(st.end, ms + cover))
          }
        }
        if (st.start >= 0 || st.islands > 0) state.update(st)
        else state.remove()
        out.iterator
      }
  }

  /** Batch twin (the gate entry): the sweep folded over events + flush
    * sentinels — equal to w27's two-window form row for row (same oracle
    * SQL). */
  def st22StreamCoverage(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    coverageWithState(s,
      ev.select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .unionByName(sessionSentinels(ev)))
      .toDF()
      .orderBy(col("user_id"))
  }

  // --- streaming point-in-time features (j20's streaming face) ---------------

  /** st23 core: streaming POINT-IN-TIME FEATURES — j20's trailing-hour
    * click count computed online, the feature-store consistency story in
    * one operator: the SAME fold produces the serving-time feature (state
    * scan at event arrival) and the training table (the batch twin), so
    * training/serving skew is structurally impossible. State per user is
    * the deque of click timestamps still inside the trailing hour — each
    * arrival first evicts expired clicks (state stays O(clicks per hour),
    * never grows with history), a purchase then reads |deque| as its
    * feature, a click then joins the deque. The strict t−1 bound (clicks
    * at the purchase's own millisecond excluded) is preserved by the
    * (ms, stage) fold order: purchases process BEFORE clicks at equal ms.
    * Oracle: j20's RANGE-frame SQL verbatim. */
  def pitWithState(s: SparkSession, events: DataFrame): Dataset[PitRow] = {
    import s.implicits._
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        when(col("event_type") === "click", 1).otherwise(0).as("is_click"))
      .as[(Long, Long, Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[PitState, PitRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        var clicks = state.getOption.map(_.clicks).getOrElse(Nil)
        val out = scala.collection.mutable.ArrayBuffer.empty[PitRow]
        // purchases before clicks at equal ms: a click at exactly t must
        // not count toward a purchase at t (the strict t−1 contract)
        rows.toSeq.sortBy(t => (t._3, t._4, t._2)).foreach {
          case (_, eid, ms, isClick) =>
            clicks = clicks.filter(c => c >= ms - 3600000L)
            if (isClick == 1) clicks = ms :: clicks
            else out += PitRow(uid, eid, ms, clicks.count(_ <= ms - 1L).toLong)
        }
        if (clicks.nonEmpty) state.update(PitState(clicks)) else state.remove()
        out.iterator
      }
  }

  /** Batch twin (the gate entry): the same state fold over the bounded
    * table — equal to j20's RANGE-frame window form row for row (same
    * oracle SQL). */
  def st23StreamPit(s: SparkSession, d: String): DataFrame =
    pitWithState(s, Tables.events(s, d))
      .toDF()
      .orderBy(col("user_id"), col("ms"), col("event_id"))

  // --- streaming funnel (w15's streaming face) -------------------------------

  /** st20 core: streaming FUNNEL — w15's staged-conversion analysis as
    * keyed state. The batch form resolves t₁ = first view, t₂ = first
    * click ≥ t₁, t₃ = first purchase ≥ t₂ with three stacked min-joins;
    * the stream carries the partial funnel DIRECTLY: state per user is
    * (t1, t2, t3) — three longs, 0 = unreached — and each arriving event
    * advances at most one stage. Greedy-sequential ≡ the min-join form
    * because events fold in time order: the first view encountered IS
    * min(view), the first click at-or-after it IS min(click ≥ t₁), etc.
    * In-batch fold order is (ms, stage, event_id) — views before clicks
    * before purchases at equal ms, so a click sharing t₁'s timestamp
    * qualifies exactly as the batch `ms >= t1` predicate says.
    *
    * Users emit ONE row, at the w12/st14 flush sentinel (the funnel is
    * open until the stream ends — in production an event-time timeout
    * would close abandoned users); the gate entry folds events+sentinels
    * through this code path and rolls the per-user rows up to w15's
    * summary shape, oracle-checked by w15's SQL verbatim. State is O(1)
    * per user; one groupByKey shuffle — the same shape as w15's three
    * user-grain aggregations collapsed into one pass. */
  def funnelWithState(s: SparkSession, events: DataFrame): Dataset[FunnelUserRow] = {
    import s.implicits._
    events
      .filter(col("event_type").isin("view", "click", "purchase") ||
        col("event_id") < 0)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelUserRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        def pri(t: String): Int = t match {
          case "view" => 0
          case "click" => 1
          case "purchase" => 2
          case _ => 3
        }
        var st = state.getOption.getOrElse(FunnelState(0L, 0L, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[FunnelUserRow]
        rows.toSeq.sortBy(t => (t._3, pri(t._4), t._2))
          .foreach { case (_, eid, ms, et) =>
            if (eid < 0) {
              if (st.t1 > 0L)
                out += FunnelUserRow(uid, st.t1,
                  if (st.t2 > 0L) Some(st.t2) else None,
                  if (st.t3 > 0L) Some(st.t3) else None)
              st = FunnelState(0L, 0L, 0L)
            } else et match {
              case "view" if st.t1 == 0L                  => st = st.copy(t1 = ms)
              case "click" if st.t1 > 0L && st.t2 == 0L   => st = st.copy(t2 = ms)
              case "purchase" if st.t2 > 0L && st.t3 == 0L => st = st.copy(t3 = ms)
              case _                                      => ()
            }
          }
        if (st.t1 > 0L) state.update(st) else state.remove()
        out.iterator
      }
  }

  /** Batch twin (the gate entry): per-user funnel rows from the state fold
    * over events + flush sentinels, rolled up to w15's summary row (same
    * oracle SQL). */
  def st20StreamFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    funnelWithState(s,
      ev.select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .unionByName(sessionSentinels(ev)))
      .toDF()
      .agg(count(col("t1")).as("n_stage1"),
        count(col("t2")).as("n_stage2"),
        count(col("t3")).as("n_stage3"),
        (sum(col("t3") - col("t1")).cast(DoubleType) / count(col("t3")))
          .as("avg_completion_ms"))
  }

  // --- online semantic dedup (d12's streaming face) --------------------------

  /** st15 core: ONLINE semantic dedup — the d12 relation as a stream
    * decision. A document arriving NOW must be kept or dropped against the
    * representatives already kept, without revisiting past decisions: keep
    * iff no EARLIER-KEPT same-cell representative has cosine ≥ τ (the
    * greedy lowest-id-first maximal independent set — SemDeDup's keep-one
    * rule made incremental). d12's batch relation ("removed iff ANY
    * lower-id neighbor") can drop a whole near-dup chain; the online rule
    * keeps the chain's representative set — so st15-kept ⊇ d12-kept, and
    * the invariant spec pins exactly that containment.
    *
    * The BATCH form below is the gate entry and is fully declarative: one
    * `aggregate` higher-order fold per cell over the id-sorted member
    * structs, `exists` + the codegen cosine kernel deciding each step —
    * no driver loop, no custom aggregate, and the DuckDB oracle replays
    * the same fold as a recursive CTE. The STREAMING form holds each
    * cell's kept representatives in `flatMapGroupsWithState` keyed state
    * and folds arriving batches with the same JVM cosine
    * ([[graft.functions.CosineSim.cosine]] — identical index-order
    * accumulation), so stream ≡ batch bit for bit when batches arrive in
    * id order (StreamingSpec stages 4 id-range files).
    *
    * Scale: state per cell = its kept representatives (the deduplicated
    * survivors — bounded by cell semantic diversity, the quantity SemDeDup
    * exists to keep small); cells grow with the corpus so both the fold
    * and the state stay cell-bounded. Assignment against the constant
    * centroid table is a literal-array HOF argmin — no stream-static
    * shuffle at all. */
  def st15OnlineSemdedup(s: SparkSession, d: String): DataFrame = {
    val tau = graft.operators.Dedup.SemTau
    // the fold carries BOTH the kept representatives (the state the next
    // step folds against) and the per-member verdicts (the output) — so
    // the corpus is assigned once and never re-joined for the kept flag
    // (a join-back form evaluates the whole centroid+assignment subtree a
    // second time: DataFrames have no common-subplan reuse)
    def verdict(x: Column, kept: Boolean) =
      array(struct(x("vec_id").as("vec_id"), lit(kept).as("kept")))
    val fold = aggregate(
      array_sort(collect_list(struct(col("vec_id"), col("embedding")))),
      struct(array(), array()).cast(
        """STRUCT<
          |  reps: ARRAY<STRUCT<vec_id: BIGINT, embedding: ARRAY<FLOAT>>>,
          |  out: ARRAY<STRUCT<vec_id: BIGINT, kept: BOOLEAN>>>""".stripMargin),
      (acc, x) =>
        when(exists(acc("reps"), k => cosineSim(k("embedding"), x("embedding")) >= tau),
          struct(acc("reps").as("reps"), concat(acc("out"), verdict(x, false)).as("out")))
          .otherwise(struct(concat(acc("reps"), array(x)).as("reps"),
            concat(acc("out"), verdict(x, true)).as("out"))),
      acc => acc("out"))
    graft.operators.Similarity.ivfAssigned(s, d)
      .groupBy(col("cell"))
      .agg(fold.as("verdicts"))
      .select(col("cell"), explode(col("verdicts")).as("v"))
      .select(col("v.vec_id").as("vec_id"), col("cell"), col("v.kept").as("kept"))
      .orderBy(col("vec_id"))
  }

  /** The streaming form: embeddings arrive in id order (micro-batches =
    * id-range files), each is assigned its cell by the literal centroid
    * argmin and folded against the cell's kept-representative state. */
  def onlineSemdedupStream(s: SparkSession, emb: DataFrame, d: String): Dataset[SemVerdict] = {
    import s.implicits._
    val tau = graft.operators.Dedup.SemTau
    // centroids are constant model state → a literal array in the plan
    // (the n04 pattern); argmin by (-cosine, cell) = ivfAssigned's min_by
    val cents = array(graft.operators.Similarity.ivfCents(s, d).collect().toSeq
      .map { r =>
        struct(lit(r.getInt(0)).as("cell"),
          array(r.getSeq[Float](1).map(v => lit(v)): _*).as("centroid"))
      }: _*)
    emb
      .withColumn("cell", array_min(transform(cents,
        c => struct((-cosineSim(col("embedding"), c("centroid"))).as("negcos"),
          c("cell").as("cell"))))("cell"))
      .select(col("vec_id"), col("embedding"), col("cell"))
      .as[(Long, Seq[Float], Int)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Seq[(Long, Seq[Float])], SemVerdict](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { case (cell, rows, state) =>
        var reps = state.getOption.getOrElse(Seq.empty)
        val out = scala.collection.mutable.ArrayBuffer.empty[SemVerdict]
        rows.toSeq.sortBy(_._1).foreach { case (vid, e, _) =>
          val ev = e.toIndexedSeq
          val dup = reps.exists { case (_, r) =>
            graft.functions.CosineSim.cosine(r.toIndexedSeq, ev) >= tau
          }
          if (!dup) reps = reps :+ (vid, e)
          out += SemVerdict(vid, cell, !dup)
        }
        state.update(reps)
        out.iterator
      }
  }

  /** st15 oracle: the shared IVF CTEs, then the greedy fold replayed as a
    * recursive CTE — each iteration folds every cell's next member (by
    * per-cell rank) into that cell's kept list. */
  val st15Sql: String = {
    val cosKE = graft.operators.Dedup.cosSqlExpr("ke", "o.embedding")
    s"""WITH RECURSIVE ${graft.operators.Similarity.ivfCteSql},
       |ord AS (
       |  SELECT cell, vec_id, embedding,
       |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
       |  FROM assigned),
       |walk AS (
       |  SELECT cell, 0 AS rn, CAST([] AS BIGINT[]) AS kept_ids,
       |    CAST([] AS FLOAT[][]) AS kept_embs
       |  FROM (SELECT DISTINCT cell FROM ord)
       |  UNION ALL
       |  SELECT w.cell, o.rn,
       |    CASE WHEN len(list_filter(w.kept_embs, ke -> $cosKE >= ${graft.operators.Dedup.SemTau})) > 0
       |         THEN w.kept_ids ELSE list_append(w.kept_ids, o.vec_id) END,
       |    CASE WHEN len(list_filter(w.kept_embs, ke -> $cosKE >= ${graft.operators.Dedup.SemTau})) > 0
       |         THEN w.kept_embs ELSE list_append(w.kept_embs, o.embedding) END
       |  FROM walk w JOIN ord o ON o.cell = w.cell AND o.rn = w.rn + 1),
       |final_walk AS (
       |  SELECT cell, kept_ids,
       |    row_number() OVER (PARTITION BY cell ORDER BY rn DESC) AS pick
       |  FROM walk),
       |res AS (SELECT cell, kept_ids FROM final_walk WHERE pick = 1)
       |SELECT a.vec_id, a.cell, list_contains(r.kept_ids, a.vec_id) AS kept
       |FROM assigned a JOIN res r ON a.cell = r.cell
       |ORDER BY a.vec_id""".stripMargin
  }

  // --- streaming MESHJOIN ----------------------------------------------------

  /** Near-real-time enrichment: stream ⋈ static dims (broadcast), exactly
    * the MESHJOIN contract. `foreachBatch` applies the upsert per
    * micro-batch; the sink stays append-only parquet and upsert semantics
    * come from last-write-wins dedup on read (SURVEY §7.5 #7). */
  def streamingEnrich(stream: DataFrame, orders: DataFrame): DataFrame =
    stream.join(broadcast(orders), col("user_id") === col("o_custkey"), "inner")

  /** Run the streaming pipeline to completion over the available files and
    * return the enriched rows collected through a memory sink. Used by the
    * equivalence spec; a production deployment would `writeStream.start` on
    * a real sink instead.
    *
    * Aggregations run in "complete" mode: with a finite replay the watermark
    * never passes the last window, so append mode would hold the final
    * windows back forever; complete mode emits the converged state. */
  // --- watermark late-data drop ---------------------------------------------

  /** The late wave is everything before this instant (2024-01-08 UTC);
    * the fresh wave is even-id events at/after this one (2024-01-29 UTC).
    * Ns constants feed the batch model's millis arithmetic; the NTZ
    * literals split the raw (TIMESTAMP_NTZ) column before normalization. */
  val LateCutNs = 1704672000L * 1000000000L
  val FreshCutNs = 1706486400L * 1000000000L
  private def ntzLit(epochSec: Long): Column =
    lit(java.time.LocalDateTime.ofEpochSecond(epochSec, 0, java.time.ZoneOffset.UTC))

  /** Stage the events table as three "arrival waves" for the watermark
    * late-drop scenario: the bulk lands first (advancing the watermark to
    * max(bulk ts) − delay), a small fresh wave lands second, and ONLY THEN
    * a wave of three-weeks-old rows arrives — every one of them far behind
    * the watermark by construction. The one-batch spacing matters: Spark's
    * late-input filter uses the previous batch's watermark (it lags the
    * eviction watermark by one batch), so a late row arriving in the very
    * next batch after the watermark advanced would still be merged; two
    * batches later it must be dropped — the state-bounding behavior that
    * keeps a streaming aggregation's memory finite on an unbounded stream.
    * File order is pinned by modification time (the file source processes
    * older files first); the wave split is a pure function of (ts,
    * event_id), so the batch model in StreamingSpec can reconstruct the
    * exact watermark. */
  def lateStagedEvents(s: SparkSession, dir: String): String = {
    import java.nio.file.Files
    val staged = Files.createTempDirectory("graft_events_late")
    val raw = s.read.schema(eventsRawSchema).parquet(s"$dir/events.parquet")
    val old = col("ts") < ntzLit(LateCutNs / 1000000000L)
    val fresh = !old && col("ts") >= ntzLit(FreshCutNs / 1000000000L) &&
      col("event_id") % 2 === 0
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = staged.resolve(s"${name}_tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part =
        try listing.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst.get
        finally listing.close() // Files.list leaks an fd unless closed
      Files.move(part, staged.resolve(s"$name.parquet"))
      staged.resolve(s"$name.parquet").toFile.setLastModified(mtime)
      // drop the _SUCCESS/.crc remnants; only the staged files should remain
      val leftovers = Files.list(tmp)
      try leftovers.forEach(p => Files.delete(p)) finally leftovers.close()
      Files.delete(tmp)
      staged.toFile.deleteOnExit()
    }
    val now = System.currentTimeMillis()
    stage(raw.filter(!old && !fresh), "wave1_bulk", now - 120000)
    stage(raw.filter(fresh), "wave2_fresh", now - 60000)
    stage(raw.filter(old), "wave3_late", now)
    staged.toString
  }

  /** Streaming reader over a [[lateStagedEvents]] directory — one staged
    * file per micro-batch, oldest first. */
  def lateEventsStream(s: SparkSession, staged: String): DataFrame =
    normalizeTs(s.readStream
      .schema(eventsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged))

  /** Batch twin of the late-drop scenario for the driver gate: what the
    * append stream over [[lateStagedEvents]] emits — on-time waves
    * aggregated hourly, late wave contributing nothing, only windows the
    * final watermark passed. StreamingSpec proves the stream produces
    * exactly this. */
  def st08LateDrop(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val lateCut = new java.sql.Timestamp(LateCutNs / 1000000L)
    val onTime = Tables.events(s, d).filter(col("ts") >= lit(lateCut))
    val wmFinal = new java.sql.Timestamp(
      onTime.agg(max(col("ts"))).head.getTimestamp(0).getTime - 10 * 60 * 1000L)
    onTime
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .filter(col("window_start") + expr("INTERVAL 1 HOUR") <= lit(wmFinal))
      .orderBy(col("window_start"), col("event_type"))
  }

  val st08Sql: String =
    """WITH ontime AS (
      |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'),
      |agg AS (
      |  SELECT date_trunc('hour', ts) AS window_start, event_type,
      |    COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |  FROM ontime GROUP BY 1, 2)
      |SELECT * FROM agg
      |WHERE window_start + INTERVAL 1 HOUR <=
      |  (SELECT max(ts) - INTERVAL 10 MINUTE FROM ontime)
      |ORDER BY window_start, event_type""".stripMargin

  // --- streaming materialized-view maintenance -------------------------------

  /** st10: streaming MATERIALIZED-VIEW maintenance — the streaming face of
    * s13 and the reference's actual operating mode (a warehouse kept
    * current by arriving chunks, `MeshJoin.java`'s reason to exist):
    * `foreachBatch` merges each micro-batch's ALGEBRAIC partials
    * (decimal sum, count per key) into a kept aggregate-sized state table.
    * The stream never rescans history; state size is bounded by key
    * cardinality forever.
    *
    * Mechanics: state lives in ping-pong parquet dirs (batch n reads
    * v(n%2), writes v((n+1)%2)) — never an in-place overwrite of a dir the
    * same job is reading; a lake-house table format would give the same
    * swap as an atomic commit. AVG is never stored — the state carries
    * (sum, count) and divides only at read time (the s13 discipline), so
    * merges stay exact and order-free under any micro-batch slicing.
    *
    * Replay safety: `foreachBatch` is at-least-once — on a failure between
    * the state write and the checkpoint commit, Structured Streaming
    * re-delivers the SAME batch id. The commit marker therefore records
    * `<path>\n<lastAppliedBatchId>`, and [[matviewMergeBatch]] skips a
    * re-delivery of exactly `lastApplied`, making the merge exactly-once
    * on the state. Within one checkpoint lineage ids are monotonic, so an
    * id STRICTLY BELOW lastApplied can only mean a different lineage was
    * pointed at this state root (fresh/no checkpoint on existing state) —
    * that is rejected LOUDLY with IllegalStateException rather than
    * silently skipped or double-merged; pass a fresh stateRoot (or the
    * original checkpoint) to resume correctly. */
  def matviewStream(events: DataFrame, stateRoot: String,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = events.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        matviewMergeBatch(batch, id, stateRoot)
      }
    // a checkpoint makes the query RESUMABLE: batch ids continue from the
    // checkpoint after a restart (the monotonicity the replay fence needs),
    // and already-committed source files are not re-read
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** One micro-batch of matview maintenance (the `foreachBatch` body of
    * [[matviewStream]], factored out so replay idempotence is directly
    * testable). No-ops when `id` was already applied. */
  def matviewMergeBatch(batch: DataFrame, id: Long, stateRoot: String): Unit = {
    val sb = batch.sparkSession
    // read side + replay fence come from the commit marker, not id parity —
    // batch ids need not start at 0 after a checkpoint restart
    val markerPath = java.nio.file.Paths.get(s"$stateRoot/LATEST")
    val cur =
      if (java.nio.file.Files.exists(markerPath))
        Some(new String(java.nio.file.Files.readAllBytes(markerPath), "UTF-8")
          .split("\n", 2).toSeq)
      else None
    val lastApplied = cur.flatMap(_.lift(1)).map(_.trim.toLong).getOrElse(-1L)
    if (id == lastApplied) return // at-least-once replay of a committed batch
    if (id < lastApplied) throw new IllegalStateException(
      s"matview state at $stateRoot has lastApplied=$lastApplied but batch " +
        s"$id arrived — a NEW query lineage (fresh or missing checkpoint) is " +
        "pointed at existing state; use a fresh stateRoot or the original " +
        "checkpoint")
    val partial = batch.groupBy(col("event_type"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("sum_dec"),
        count(lit(1)).as("n"))
    val merged = cur.map(_.head) match {
      case Some(path) => sb.read.parquet(path).unionByName(partial)
        .groupBy(col("event_type"))
        .agg(sum(col("sum_dec")).as("sum_dec"), sum(col("n")).as("n"))
      case None => partial
    }
    val nxt =
      if (cur.map(_.head).contains(s"$stateRoot/v0")) s"$stateRoot/v1"
      else s"$stateRoot/v0"
    merged.write.mode("overwrite").parquet(nxt)
    // marker (path + applied id) AFTER the parquet commit: readers resolve
    // the fresh side from it, replays resolve the fence from it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$stateRoot/LATEST"), s"$nxt\n$id".getBytes("UTF-8"))
    ()
  }

  /** Read the freshest ping-pong state (named by the LATEST commit marker)
    * and surface the view: count, total, and the division-at-the-boundary
    * average. */
  def matviewState(s: SparkSession, stateRoot: String): DataFrame = {
    val marker = java.nio.file.Paths.get(s"$stateRoot/LATEST")
    require(java.nio.file.Files.exists(marker),
      s"no committed matview state under $stateRoot (stream never completed a batch?)")
    val side = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
      .split("\n", 2).head
    s.read.parquet(side)
      .select(col("event_type"), col("n").as("n_events"),
        col("sum_dec").cast(DoubleType).as("total_value"),
        (col("sum_dec").cast(DoubleType) / col("n")).as("avg_value"))
      .orderBy(col("event_type"))
  }

  /** Batch twin of the maintained view for the driver gate; StreamingSpec
    * proves the staged multi-batch stream's final state equals this. */
  def st10Matview(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .withColumn("avg_value", col("total_value") / col("n_events"))
      .orderBy(col("event_type"))

  val st10Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- streaming JSONL ingest through the V2 source (s24's streaming face) ---

  /** st24 core: the from-scratch DataSource V2 JSONL source
    * ([[graft.sources.JsonlV2]]) consumed as a STREAM. Micro-batch offsets
    * are positions in the sorted file listing (the append-only log-drop
    * contract every producer-side corpus dump follows: `wave-000…`,
    * `wave-001…`), so each trigger plans exactly the newly-arrived files —
    * as the same byte-range splits and through the same pruned-schema
    * reader the batch scan uses. The corpus is staged once per
    * (session, corpus) as three wave files; the gate entry is the batch
    * face over those waves (the JSONL round trip must be lossless under
    * the DuckDB oracle), and StreamingSpec drops the SAME waves one at a
    * time into a fresh directory, advancing the query between drops, and
    * proves the streamed aggregate state equals this batch result. */
  private[graft] val st24Waves: Artifact[String] =
    Artifact("st24_waves") { (s, d) =>
      val root = Scratch.path("st24_waves", d, s)
      stageWaves(s, d, root)
      root
    }

  /** Write documents as wave JSONL files under `root` (names sort in drop
    * order — the contract [[graft.sources.JsonlV2]]'s stream offsets rely
    * on). Returns the wave files in drop order. */
  private[graft] def stageWaves(s: SparkSession, d: String, root: String,
      waves: Int = 3): Seq[java.io.File] = {
    val dir = new java.io.File(root)
    dir.mkdirs()
    (0 until waves).map { i =>
      val tmp = new java.io.File(dir, s"_tmp$i")
      Tables.documents(s, d).filter(col("doc_id") % waves === i)
        .toJSON.coalesce(1).write.mode("overwrite").text(tmp.toString)
      val part = tmp.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val target = new java.io.File(dir, f"wave-$i%03d.jsonl")
      require(part.renameTo(target), s"stage rename failed for $target")
      tmp.listFiles().foreach(_.delete()); tmp.delete()
      target
    }
  }

  /** The streaming read over a JSONL drop directory — StreamingSpec's
    * entry point. */
  private[graft] def jsonlDocStream(s: SparkSession, dir: String): DataFrame =
    s.readStream.format("graft-jsonl")
      .schema(graft.operators.Relational.s24Schema)
      .option("splitSize", (64 * 1024).toString)
      .load(dir)

  /** Language histogram — the aggregate both faces share. */
  private[graft] def langProfile(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /** Batch twin (the gate entry): the V2 BATCH scan over the same staged
    * waves the stream consumes. */
  def st24JsonlStream(s: SparkSession, d: String): DataFrame =
    langProfile(graft.operators.Relational.s24Read(s, st24Waves(s, d)))
      .orderBy(col("lang"))

  val st24Sql: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** st25 core: JSONL STREAM → JSONL STREAM through the V2 source's four
    * quadrants at once — the staged wave drop is consumed by the
    * micro-batch READ face, filtered/projected, and published by the
    * STREAMING WRITE face: per-epoch temps renamed under an
    * `_epoch-<id>` marker that makes replayed commits no-ops (exactly-
    * once per epoch however many times Structured Streaming retries the
    * batch). The pipeline runs once per (session, corpus); the gate
    * entry is the batch V2 scan over the sink directory, and the oracle
    * recomputes from the original parquet — so ingest, transform,
    * streaming commit, sidecar stats and read-back must ALL be lossless
    * end to end. */
  private[graft] val st25Schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("n_chars", LongType)))
  private[graft] val st25Out: Artifact[String] =
    Artifact("st25_out", "st24_waves") { (s, d) =>
      val out = Scratch.path("st25_out", d, s)
      val ckpt = Scratch.path("st25_ckpt", d, s)
      val q = jsonlDocStream(s, st24Waves(s, d))
        .filter(col("n_chars") >= 100)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .writeStream.format("graft-jsonl")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start(out)
      q.processAllAvailable(); q.stop()
      out
    }

  def st25JsonlSink(s: SparkSession, d: String): DataFrame =
    s.read.format("graft-jsonl").schema(st25Schema).load(st25Out(s, d))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))

  val st25Sql: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE n_chars >= 100
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** st26 core: the `where` READ OPTION on the streaming face. Spark's
    * DSv2 planner pushes query predicates into batch scans only — a
    * micro-batch stream's Filter stays above the scan — so the V2 source
    * takes the predicate as a read option, parses it with Catalyst's SQL
    * parser into the same `sources.Filter`s, evaluates it line-by-line in
    * the reader AND skips whole new files per micro-batch against their
    * `_stats` sidecar ranges. The pipeline here: documents batch-written
    * partition-routed by lang (one file + sidecar per lang), streamed
    * under `where = "lang = 'en' OR lang = 'fr'"` into a V2 streaming
    * sink; the gate entry reads the sink back and the oracle recomputes
    * from parquet — so option parsing, reader enforcement, per-batch
    * file skipping (3 of 5 lang files never read — DataSourceV2Spec
    * proves the skip by corrupting excluded files) and the sink commit
    * must all be lossless. */
  private[graft] val st26Out: Artifact[String] =
    Artifact("st26_out") { (s, d) =>
      val drop = Scratch.path("st26_drop", d, s)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.format("graft-jsonl").option("partitionBy", "lang")
        .mode("overwrite").save(drop)
      val out = Scratch.path("st26_out", d, s)
      val ckpt = Scratch.path("st26_ckpt", d, s)
      val q = s.readStream.format("graft-jsonl")
        .schema(graft.operators.Relational.s25Schema)
        .option("where", "lang = 'en' OR lang = 'fr'")
        .load(drop)
        .writeStream.format("graft-jsonl")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start(out)
      q.processAllAvailable(); q.stop()
      out
    }

  def st26WhereStream(s: SparkSession, d: String): DataFrame =
    s.read.format("graft-jsonl").schema(graft.operators.Relational.s25Schema)
      .load(st26Out(s, d))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))

  val st26Sql: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang IN ('en', 'fr')
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** st27 core: the STREAMED LAKE IS A FIRST-CLASS LAKE — a streaming
    * sink given `partitionBy` + `bloomFor` publishes, per epoch, the
    * exact layout machinery a batch write would: lang-routed files
    * (single-valued, `_pvals`-proven), full `_stats` sidecars, and
    * per-file doc_id blooms. The entry's grouped aggregate over the sink
    * then `require`s the METADATA-ONLY plan (zero data bytes read over a
    * directory only ever written by a stream), and a point lookup
    * `require`s the bloom skip. At 100 TB this kills the "streaming
    * lands raw, a batch job re-lays it out" stage entirely: data is
    * catalog-queryable at full speed the moment its epoch commits. */
  private[graft] val st27Out: Artifact[String] =
    Artifact("st27_out", "st24_waves") { (s, d) =>
      val out = Scratch.path("st27_out", d, s)
      val ckpt = Scratch.path("st27_ckpt", d, s)
      val q = jsonlDocStream(s, st24Waves(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .writeStream.format("graft-jsonl")
        .option("checkpointLocation", ckpt)
        .option("partitionBy", "lang")
        .option("bloomFor", "doc_id")
        .outputMode("append")
        .start(out)
      q.processAllAvailable(); q.stop()
      out
    }

  def st27StreamedLake(s: SparkSession, d: String): DataFrame = {
    def read() = s.read.format("graft-jsonl")
      .schema(graft.operators.Relational.s25Schema).load(st27Out(s, d))
    // the streamed layout must answer from metadata alone...
    val grouped = read().groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
    require(grouped.queryExecution.executedPlan.toString.contains("MetadataAgg"),
      "st27: the streamed lake must answer grouped aggregates from sidecars")
    // ...and its blooms must prune a point lookup
    val probe = read().filter(col("doc_id") === 17L)
    val m = """StatsSkippedFiles: (\d+)/(\d+)""".r
      .findFirstMatchIn(probe.queryExecution.executedPlan.toString)
      .getOrElse(throw new IllegalStateException("st27: no skip counter"))
    require(m.group(2).toInt > 1 &&
      m.group(1).toInt * 2 >= m.group(2).toInt,
      s"st27: streamed blooms skipped only ${m.group(1)}/${m.group(2)}")
    grouped
  }

  val st27Sql: String =
    """SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** st28 core: STREAMING MERGE into the governed lake — the reference's
    * actual operating mode (`Java/MeshJoin.java:354-376`: every enriched
    * tuple is a REPLACE INTO against the warehouse) as a declarative
    * streaming pipeline. Each micro-batch `MERGE INTO`s the catalog table;
    * the table carries `merge.mode = merge-on-read`, so every epoch lands
    * as delete vectors + appended routed files
    * ([[graft.sources.JsonlMorOperation]]) — cost O(batch), never a
    * partition rewrite per trigger, the only sustainable shape for a
    * continuous upsert stream over 100 TB.
    *
    * Replay safety is st10's fence, on the merge: `foreachBatch` is
    * at-least-once, so the batch body records `lastAppliedBatchId` in a
    * marker AFTER the merge commits, skips a re-delivery of exactly that
    * id, and LOUDLY rejects an id from a different lineage (strictly below
    * the fence). The MERGE body is also idempotent BY VALUE (re-merging a
    * committed batch updates rows to the values they already hold), so the
    * one crash window — between merge commit and marker write — converges
    * instead of corrupting; the fence exists so replays don't burn another
    * epoch of vectors and files on the way there.
    *
    * Scenario: the table is pre-seeded with every even doc_id carrying a
    * placeholder n_chars = -1; the staged waves then stream ALL documents
    * through the merge. Matched rows (the seeds) are genuinely UPDATED to
    * their true values, unmatched rows INSERT — so the final state is
    * exactly `documents`, which is what the oracle recomputes, and the
    * placeholder can only disappear through the update path. */
  def st28MergeBatch(batch: DataFrame, id: Long, table: String,
      fenceRoot: String): Unit = {
    val sb = batch.sparkSession
    val marker = java.nio.file.Paths.get(s"$fenceRoot/MERGE_LATEST")
    val lastApplied =
      if (java.nio.file.Files.exists(marker))
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim.toLong
      else -1L
    if (id == lastApplied) return // at-least-once replay of a committed epoch
    if (id < lastApplied) throw new IllegalStateException(
      s"st28 merge fence at $fenceRoot has lastApplied=$lastApplied but " +
        s"batch $id arrived — a NEW query lineage (fresh or missing " +
        "checkpoint) is pointed at existing state; use a fresh fence root " +
        "or the original checkpoint")
    batch.createOrReplaceTempView("st28_epoch")
    sb.sql(s"""MERGE INTO $table t USING st28_epoch s
              |ON t.doc_id = s.doc_id
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(fenceRoot))
    java.nio.file.Files.write(marker, id.toString.getBytes("UTF-8"))
    ()
  }

  private[graft] val st28Table: Artifact[String] =
    Artifact("st28_table", "s30_lake", "st24_waves") { (s, d) =>
      val cat = graft.operators.Relational.s30Lake(s, d)
      val tbl = s"$cat.lake.docs_stream_merge"
      s.sql(s"""CREATE TABLE IF NOT EXISTS $tbl
               |  (doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT)
               |  PARTITIONED BY (lang)
               |  TBLPROPERTIES ('merge.mode' = 'merge-on-read')""".stripMargin)
      Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("source"),
          lit(-1L).as("n_chars"))
        .writeTo(tbl).append()
      val ckpt = Scratch.path("st28_ckpt", d, s)
      val fence = Scratch.path("st28_fence", d, s)
      val q = jsonlDocStream(s, st24Waves(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          st28MergeBatch(batch, id, tbl, fence)
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop()
      tbl
    }

  def st28StreamMerge(s: SparkSession, d: String): DataFrame = {
    val df = s.table(st28Table(s, d))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"))
      .orderBy(col("lang"))
    // the placeholder can only vanish through the MERGE's update path —
    // a surviving -1 means an epoch's matched rows were never updated
    require(df.filter(col("min_chars") < 0).isEmpty,
      "st28: placeholder rows survived the streaming merge")
    df
  }

  val st28Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars, MIN(n_chars) AS min_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** st29: STREAMING CDC — the snapshot changes feed consumed as a
    * micro-batch stream ([[graft.sources.JsonlV2]]'s `changes` read
    * option): offsets are snapshot VERSIONS, each trigger's batch is the
    * net change set between two `CALL system.snapshot` versions (inserts
    * from listing diffs, deletes from vector-offset diffs via
    * include-only partitions), and `startingVersion` names the baseline
    * to diff from. The staged table is s44's docs_cdc (append evens,
    * snapshot, append odds, MOR-delete %5, snapshot), so the one batch
    * this stream drains [v1 → v2] carries exactly the s44 feed — the
    * entry rolls up the parquet the stream sank with s44's rollup and
    * answers to s44's oracle. At 100 TB this is how a downstream embeds/indexes
    * INCREMENTALLY: snapshot per ingest batch, one trigger per
    * snapshot, re-process the delta, never the lake. StreamingSpec
    * additionally pins row-level equality with the batch feed and that
    * a later snapshot's trigger picks up only ITS delta. */
  private[graft] val st29Out: Artifact[String] =
    Artifact("st29_out", "s44_table") { (s, d) =>
      val dir = graft.operators.Relational.s44Table(s, d)
      val out = Scratch.path("st29_out", d, s)
      val ckpt = Scratch.path("st29_ckpt", d, s)
      val q = s.readStream.format("graft-jsonl")
        .schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("n_chars", LongType))))
        .option("changes", "true")
        .option("startingVersion", "1")
        .load(dir)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start(out)
      q.processAllAvailable(); q.stop()
      out
    }

  def st29ChangesStream(s: SparkSession, d: String): DataFrame =
    graft.operators.Relational.changesRollup(s.read.parquet(st29Out(s, d)))

  def runToMemory(s: SparkSession, df: DataFrame, name: String,
      mode: String = "append"): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .start()
    q.processAllAvailable()
    q.stop()
    s.table(name)
  }

  /** This module's rows of [[graft.Artifacts.all]], in prebuild order. */
  val artifacts: Seq[Artifact[_]] = Seq(
    st24Waves, st25Out, st26Out, st27Out, st28Table, st29Out)

  val entries: Seq[Entry] = Seq(
    Entry("st01_tumbling_window", st01Tumbling _, st01Sql),
    Entry("st02_sliding_window", st02Sliding _, st02Sql),
    Entry("st03_session_window", st03Session _, st03Sql),
    Entry("st04_stateful_agg", st04Stateful _, st04Sql),
    Entry("st05_stream_dedup", st05Dedup _, st05Sql),
    Entry("st06_stream_stream_join", st06StreamStreamJoin _, st06Sql),
    Entry("st07_stream_corpus_ingest", st07CorpusIngest _, st07Sql),
    Entry("st08_late_drop", st08LateDrop _, st08Sql),
    Entry("st09_stream_topk", st09TopK _, st09Sql),
    Entry("st10_stream_matview", st10Matview _, st10Sql),
    Entry("st11_stream_outer_join", st11OuterJoin _, st11Sql),
    Entry("st12_bounded_dedup", st12BoundedDedup _, st12Sql),
    Entry("st13_incremental_dedup", st13IncrementalDedup _, st13Sql),
    // w12's oracle verbatim: the stateful sessionizer must reproduce the
    // window form row for row
    Entry("st14_sessionize_state", st14SessionizeState _, graft.operators.Aggregates.w12Sql),
    Entry("st15_online_semdedup", st15OnlineSemdedup _, st15Sql),
    // w19's oracle verbatim: the algebraic-state bars must reproduce the
    // rank-window form row for row
    Entry("st16_stream_ohlc", st16StreamOhlc _, graft.operators.Aggregates.w19Sql),
    Entry("st17_stream_ewma", st17StreamEwma _, graft.operators.Aggregates.w21Sql),
    Entry("st18_stream_cdc", st18StreamCdc _, graft.operators.Relational.s17Sql),
    Entry("st19_stream_cusum", st19StreamCusum _, graft.operators.Aggregates.w22Sql),
    // w15's oracle verbatim: the keyed-state funnel must reproduce the
    // min-join form's summary row
    Entry("st20_stream_funnel", st20StreamFunnel _, graft.operators.Aggregates.w15Sql),
    Entry("st21_stream_zscore", st21StreamZscore _, st21Sql),
    // w27's oracle verbatim: the keyed-state sweep must reproduce the
    // two-window gaps-and-islands form row for row
    Entry("st22_stream_coverage", st22StreamCoverage _, graft.operators.Aggregates.w27Sql),
    // j20's oracle verbatim: the online feature fold must reproduce the
    // RANGE-frame training table row for row
    Entry("st23_stream_pit", st23StreamPit _, graft.operators.Relational.j20Sql),
    Entry("st24_jsonl_stream", st24JsonlStream _, st24Sql),
    Entry("st25_jsonl_sink", st25JsonlSink _, st25Sql),
    Entry("st26_where_stream", st26WhereStream _, st26Sql),
    Entry("st27_streamed_lake", st27StreamedLake _, st27Sql),
    Entry("st28_stream_merge", st28StreamMerge _, st28Sql),
    Entry("st29_changes_stream", st29ChangesStream _, graft.operators.Relational.s44Sql))
}

/** Keyed running aggregate emitted by [[Streams.statefulUserAgg]]. */
case class UserRunningAgg(user_id: Long, n_events: Long, total_value: Double)

/** st09 state row: per-event-type bounded top-k with a monotone progress
  * counter (update-mode consumers pick each key's row with max n_seen). */
case class TypeTopK(event_type: String, n_seen: Long,
  ids: Seq[Long], vals: Seq[Double])

/** st14 output row — w12's session schema, field for field. */
case class SessionRow(user_id: Long, session_idx: Long, n_events: Long,
  session_start_ms: Long, session_end_ms: Long, total_value: Double)

/** st14 keyed state: the one OPEN session of a user (decimal total — the
  * st04 arrival-order-independence discipline). */
case class OpenSession(idx: Long, start: Long, end: Long, n: Long,
  total: BigDecimal)

/** st15 output row: the online keep/drop decision for one vector. */
case class SemVerdict(vec_id: Long, cell: Int, kept: Boolean)

/** st17 output row — w21's EWMA schema, field for field. */
case class EwmaRow(user_id: Long, seq: Long, event_id: Long, mv: Long,
  num: Long, den: Long, ewma: Double)

/** st17 keyed state: the trailing value ring (most recent first, ≤7) and
  * the emitted-row count. */
case class EwmaState(ring: Seq[Long], seq: Long)

/** st19 output row — w22's CUSUM schema, field for field. */
case class CusumRow(user_id: Long, seq: Long, event_id: Long, mv: Long,
  cusum: Long, alarm: Boolean)

/** st19 keyed state: the running deviation sum, its running min (capped
  * at 0), and the emitted-row count. */
case class CusumState(cum: Long, smin: Long, seq: Long)

/** st20 output row: one user's resolved funnel (t2/t3 None = stage not
  * reached). */
case class FunnelUserRow(user_id: Long, t1: Long, t2: Option[Long],
  t3: Option[Long])

/** st20 keyed state: the partial funnel — first-view / first-qualifying
  * click / first-qualifying purchase millis, 0 = unreached. */
case class FunnelState(t1: Long, t2: Long, t3: Long)

/** st21 output row: the trailing-frame z-score (None while the frame is
  * short or flat). */
case class ZscoreRow(user_id: Long, seq: Long, event_id: Long, mv: Long,
  z: Option[Double])

/** st21 keyed state: the trailing value ring (most recent first, ≤7) and
  * the emitted-row count. */
case class ZscoreState(ring: Seq[Long], seq: Long)

/** st22 output row — w27's coverage schema, field for field. */
case class CoverageRow(user_id: Long, n_islands: Long, covered_ms: Long)

/** st22 keyed state: the open island (start, running max end; −1 = none)
  * plus closed islands' count and covered total. */
case class CoverageState(start: Long, end: Long, islands: Long, covered: Long)

/** st23 output row — j20's feature schema, field for field. */
case class PitRow(user_id: Long, event_id: Long, ms: Long, clicks_1h: Long)

/** st23 keyed state: click timestamps still inside the trailing hour. */
case class PitState(clicks: List[Long])
