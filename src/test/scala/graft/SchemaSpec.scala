package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Physical-schema drift guard (round-4 postmortem).
  *
  * The harness regenerates /root/testdata between rounds and has already
  * changed `events.ts`'s physical encoding once (INT64 TIMESTAMP(NANOS) →
  * timestamp[us] TIMESTAMP_NTZ), which silently killed 12 operators at
  * analysis time. This spec pins the POST-NORMALIZATION contract every
  * consumer relies on, so the next drift fails here — one obvious place —
  * instead of as 12 absent correctness rows.
  */
class SchemaSpec extends SparkSpec {
  private val d = sf("sf0.001")

  test("events.ts normalizes to instant-semantics TimestampType, whatever " +
    "the parquet encoding (INT64-nanos, µs-NTZ, µs-UTC)") {
    val e = Tables.events(spark, d)
    assert(e.schema("ts").dataType === TimestampType)
    // unix_millis is TZ-typed — this is the exact call that died at analysis
    // when NTZ leaked through in round 4
    e.select(unix_millis(col("ts"))).head
  }

  test("events.ts epoch values are sane after normalization (a wrong " +
    "unit/timezone reinterpretation lands decades away, e.g. 1970-01-20)") {
    val yr = Tables.events(spark, d)
      .agg(min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi")).head
    assert(yr.getInt(0) >= 2020 && yr.getInt(1) <= 2030,
      s"events.ts years [${yr.getInt(0)}, ${yr.getInt(1)}] outside the " +
        "plausible window — unit or timezone reinterpretation drift")
  }

  test("events columns besides ts keep their contracted types") {
    val s = Tables.events(spark, d).schema
    assert(s("event_id").dataType === LongType)
    assert(s("user_id").dataType === LongType)
    assert(s("event_type").dataType === StringType)
    assert(s("value").dataType === DoubleType)
  }

  test("orders/lineitem date columns accept datetime arithmetic and land " +
    "in the TPC-H-ish year range") {
    val o = Tables.orders(spark, d)
    val l = Tables.lineitem(spark, d)
    // year()/date comparisons must analyze on whatever encoding arrives
    val oy = o.agg(min(year(col("o_orderdate"))), max(year(col("o_orderdate")))).head
    val ly = l.agg(min(year(col("l_shipdate"))), max(year(col("l_shipdate")))).head
    assert(oy.getInt(0) >= 1990 && oy.getInt(1) <= 2030)
    assert(ly.getInt(0) >= 1990 && ly.getInt(1) <= 2030)
    // the inYear pushdown-friendly range predicate must stay analyzable
    o.filter(Ops.inYear(col("o_orderdate"), 2024)).limit(1).collect()
  }

  test("orders/lineitem money columns stay numeric (decimal-sum boundary " +
    "depends on a lossless cast to DECIMAL(18,2))") {
    val o = Tables.orders(spark, d).schema
    val l = Tables.lineitem(spark, d).schema
    assert(o("o_totalprice").dataType === DoubleType)
    for (c <- Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      assert(l(c).dataType === DoubleType, s"lineitem.$c drifted")
  }

  test("streaming raw schema matches the physical events parquet (a " +
    "declared-schema mismatch reads garbage instead of failing)") {
    val phys = spark.read.parquet(s"$d/events.parquet").schema
    // the streaming reader declares eventsRawSchema up front; its ts branch
    // must agree with what parquet actually holds
    val declared = graft.streaming.Streams.eventsRawSchema
    assert(declared.fieldNames.toSeq === phys.fieldNames.toSeq)
    assert(declared("ts").dataType === phys("ts").dataType,
      s"eventsRawSchema.ts=${declared("ts").dataType} but parquet holds " +
        s"${phys("ts").dataType} — update Streams.eventsRawSchema and " +
        "normalizeTs together")
  }

  /** Spark jobs `body` launches on this thread. They carry a job group
    * unique to this call; a fence job in a second group runs after `body`,
    * and since the bus delivers job starts in order, once the fence's
    * start arrives every job `body` launched has been counted. */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"schemaspec-${java.util.UUID.randomUUID}"
    val counted = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(g) if g == s"$group-fence" => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-fence", "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
      counted.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** lineitem copied under a fresh directory, so no earlier suite has
    * resolved its schema in this session yet. */
  private def freshLineitemDir(): String = {
    val dir = Files.createTempDirectory("schemaspec_tables")
    Files.copy(Paths.get(s"$d/lineitem.parquet"), dir.resolve("lineitem.parquet"))
    dir.toString
  }

  test("Tables resolves a path's parquet schema once per session: the " +
    "second read of a table launches no Spark job") {
    val dir = freshLineitemDir()
    val first = jobsLaunchedBy { Tables.lineitem(spark, dir) }
    assert(first >= 1, "the first read must infer the schema (listener sanity)")
    assert(jobsLaunchedBy { Tables.lineitem(spark, dir) } === 0)
  }

  test("a memoized-schema read equals a plain parquet read: same schema, " +
    "same rows") {
    val dir = freshLineitemDir()
    Tables.lineitem(spark, dir)
    val memo = Tables.lineitem(spark, dir)
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(memo.schema === plain.schema)
    assert(memo.exceptAll(plain).isEmpty && plain.exceptAll(memo).isEmpty)
  }

  test("two reads of one table carry distinct attribute IDs, so a self-join " +
    "on them analyzes and matches the same join over plain reads") {
    val selfJoin = (a: DataFrame, b: DataFrame) =>
      a.join(b, a("l_orderkey") === b("l_orderkey") &&
        a("l_linenumber") === b("l_linenumber"))
    val (a, b) = (Tables.lineitem(spark, d), Tables.lineitem(spark, d))
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val plain = () => spark.read.parquet(s"$d/lineitem.parquet")
    assert(selfJoin(a, b).count() === selfJoin(plain(), plain()).count())
  }

  test("embeddings/documents contracted types for the ANN/dedup families") {
    val e = Tables.embeddings(spark, d).schema
    assert(e("embedding").dataType === ArrayType(FloatType, containsNull = true) ||
      e("embedding").dataType === ArrayType(FloatType, containsNull = false))
    val doc = Tables.documents(spark, d).schema
    assert(doc("doc_id").dataType === LongType)
    assert(doc("text").dataType === StringType)
  }
}
