package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Artifact, Entries, Entry, Scratch, Tables}
import graft.functions.GraftExtensions.{pairCodes, sortedInter}

/** Graph analytics over the part co-purchase graph (SURVEY.md §7.3 M5) —
  * the corpus-link workloads a training-data pipeline runs beyond d07's
  * connected components: motif counting (g01 triangles) and iterative link
  * analysis (g02 PageRank). The reference's basket-affinity query
  * (`SQL/olap_queries.sql:106-124`, re-expressed as q06) treats co-purchase
  * as a flat string key; these operators treat it as the graph it is.
  *
  * Graph definition (shared, MATERIALIZED once per (session, corpus) to
  * parquet — the d02-shingle pattern, because both operators and every
  * iteration of g02 re-scan it): undirected edge {x, y} between two parts
  * iff some order contains both (`x < y` canonical, distinct). Derived by
  * one self-equi-join of `lineitem` on the order key — per-order fan-out is
  * bounded by basket size (≤ 7 in TPC-H-shaped data), so the build is
  * linear in lineitems with no skew.
  *
  * Scale design:
  *  - g01 orients each edge from its lower-(degree, id) endpoint before
  *    wedge generation — the classic orientation bound: every out-degree is
  *    O(sqrt(E)), so wedge count is O(E^1.5) TOTAL regardless of skew (a
  *    celebrity part with degree 10^6 contributes wedges only through its
  *    sqrt(E)-bounded out-list, not deg² pairs). Orientation compares
  *    `struct(degree, id)` — no global rank window, no overflow-prone
  *    packed key.
  *  - g02 runs a FIXED-POINT PageRank: ranks are BIGINT micro-units
  *    (SCALE = 10^12), contributions are floor-divided, and the damping
  *    arithmetic is all integer — every iteration is exactly reproducible
  *    on any engine and any partitioning (double accumulation would be
  *    order-dependent), which is what makes the 5-iteration unrolled oracle
  *    bit-exact. Mass leaked by flooring stays leaked (deterministically);
  *    the CONTRACT is the integer recurrence, not the real-valued limit.
  */
object Graph extends Entries {

  /** Distinct canonical co-purchase edges (x < y), parquet-materialized per
    * (session, corpus) and memoized — consumed by g01 once and by every
    * g02 iteration, so the build must never re-run under memory pressure
    * (the d02/d07/a20 eviction lesson). */
  private[graft] val copurchaseEdges: Artifact[DataFrame] =
    Artifact("copurchase_edges") { (s, d) =>
      val out = Scratch.path("copurchase_edges", d, s)
      // basket-local pair expansion instead of a lineitem self-join: one
      // shuffle on the order key, then the ≤ C(basket, 2) ordered pairs
      // come out of the packed-long codegen kernel
      // ([[graft.functions.PairCodes]]) over the sorted distinct part set —
      // basket size bounds the fan-out, so no join and no skew, and the
      // dedup (`distinct`) runs on ONE primitive long key before the pair
      // ever widens to (x, y)
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("k"))
        .groupBy(col("o"))
        .agg(sort_array(collect_set(col("k"))).as("ks"))
        .filter(size(col("ks")) >= 2)
        .select(explode(pairCodes(col("ks"))).as("pc"))
        .distinct()
        .select(shiftright(col("pc"), 32).as("x"),
          col("pc").bitwiseAND(lit(0xFFFFFFFFL)).as("y"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  /** Undirected degree per node — one explode-both-ends aggregation. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("x").as("v")).unionAll(e.select(col("y").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))

  // === g01 — triangle counting ===============================================

  /** G01 (extension): per-node triangle participation counts.
    *
    * Plan: orient every edge from its lower-(degree, id) endpoint, then run
    * the edge-iterator algorithm — group the oriented out-neighborhoods
    * into node-keyed sorted-set arrays, attach each edge's two out-lists by
    * two equi-joins, and explode `array_intersect(N+(s), N+(t))`: every
    * element is the third vertex of a triangle based at (s, t), and each
    * triangle has exactly one base edge under the orientation (the one
    * whose both endpoints precede the apex), so each is produced once.
    *
    * 100 TB posture: the orientation caps every out-degree at O(sqrt(E))
    * (measured 97 on the sf0.1 corpus vs raw degrees in the thousands), so
    * the adjacency table is node-sized with bounded arrays and the
    * O(E^1.5) wedge set is walked INSIDE the per-row intersection — only
    * actual triangles ever become rows (sf0.1: 1.9M triangles vs 41M
    * wedges). Three shuffles (degree agg, adjacency agg, per-node rollup)
    * plus two adjacency-attach equi-joins that AQE broadcasts while the
    * adjacency fits and sort-merges beyond. The oracle is the naive x<y
    * three-way self-join: orientation + edge-iterator are pure
    * optimization, invisible in the result. */
  /** Triangle enumeration via the oriented edge-iterator (shared by g01
    * and g04): one row per triangle as (u, v, w) where u→v is the base
    * edge under the (degree, id) orientation and w the apex. Out-lists
    * are NODE-keyed arrays (each bounded to O(sqrt(E)) by the
    * orientation); the MATERIALIZED artifact is the adjacency itself —
    * re-exploding it recovers every oriented edge with N+(s) already
    * attached (no first join), so one equi-join attaches N+(t) and the
    * merge-pass kernel emits exactly the apexes: the O(E^1.5) wedge set
    * is walked inside the per-row intersection, never shuffled, and only
    * real triangles become rows (sf0.1: 1.9M triangles vs 41M wedges).
    *
    * MATERIALIZED + memoized per (session, corpus) like the edge table:
    * two consumers (g01's per-node rollup, g04's per-edge rollup) would
    * otherwise each pay the full enumeration, and a `.cache()` here is
    * the same LRU-eviction trap the shingle/pairs tables closed. */
  private[graft] val triangleRows: Artifact[DataFrame] =
    Artifact("triangle_rows", "copurchase_edges") { (s, d) =>
      val out = Scratch.path("g_triangles", d, s)
      computeTriangleRows(s, d).write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  private[graft] def computeTriangleRows(s: SparkSession, d: String): DataFrame = {
    val e = copurchaseEdges(s, d)
    // node-sized, consumed by BOTH endpoint joins — uncached, each join
    // side re-ran the edge-set degree aggregation
    val deg = degrees(e).cache()
    val withDeg = e
      .join(deg.select(col("v").as("x"), col("dg").as("dx")), Seq("x"))
      .join(deg.select(col("v").as("y"), col("dg").as("dy")), Seq("y"))
    val xOrd = struct(col("dx").as("d"), col("x").as("i"))
    val yOrd = struct(col("dy").as("d"), col("y").as("i"))
    val adjacencyPath = Scratch.path("g01_adjacency", d, s)
    withDeg.select(
        when(xOrd < yOrd, col("x")).otherwise(col("y")).as("s"),
        when(xOrd < yOrd, col("y")).otherwise(col("x")).as("t"))
      .groupBy(col("s"))
      .agg(sort_array(collect_list(col("t"))).as("nbrs"))
      .write.mode("overwrite").parquet(adjacencyPath)
    // both consumers (the two endpoint joins) ran inside the write above —
    // release the degree cache deterministically (guide §5)
    deg.unpersist(false)
    val adjacency = s.read.parquet(adjacencyPath)
    adjacency
      .select(col("s"), explode(col("nbrs")).as("t"), col("nbrs").as("na"))
      .join(adjacency.select(col("s").as("t"), col("nbrs").as("nb")), Seq("t"))
      .select(col("s").as("u"), col("t").as("v"),
        explode(sortedInter(col("na"), col("nb"))).as("w"))
  }

  def g01TriangleCount(s: SparkSession, d: String): DataFrame = {
    triangleRows(s, d)
      .select(explode(array(col("u"), col("v"), col("w"))).as("node_id"))
      .groupBy(col("node_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("node_id"))
  }

  val g01Sql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS k FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.k AS x, b.k AS y
      |  FROM li a JOIN li b ON a.o = b.o AND a.k < b.k),
      |t AS (
      |  SELECT e1.x AS u, e1.y AS v, e2.y AS w
      |  FROM e e1
      |  JOIN e e2 ON e2.x = e1.x AND e2.y > e1.y
      |  JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y)
      |SELECT node_id, COUNT(*) AS n_triangles
      |FROM (SELECT u AS node_id FROM t
      |      UNION ALL SELECT v FROM t
      |      UNION ALL SELECT w FROM t)
      |GROUP BY node_id ORDER BY node_id""".stripMargin

  // === g02 — fixed-point PageRank ============================================

  private val PrIters = 5
  private val PrScale = 1000000000000L // 10^12 rank micro-units
  private val AdjChunk = 4096          // hub adjacency rows split at this size
  private[graft] def prBase(nExpr: String): String =
    s"(15 * ($PrScale div $nExpr)) div 100"

  /** G02 (extension): PageRank over the undirected co-purchase graph,
    * [[PrIters]] synchronous iterations, damping 0.85, EXACT fixed-point
    * integer arithmetic (see object Scaladoc).
    *
    * Recurrence (all BIGINT, all floor division):
    * {{{
    *   r0(v)   = SCALE div N
    *   r_i(v)  = (15 * (SCALE div N)) div 100
    *           + (85 * Σ_{u→v} (r_{i-1}(u) div deg(u))) div 100
    * }}}
    * Every node of the co-purchase graph has degree ≥ 1 and the graph is
    * symmetric, so every node both sends and receives each iteration — no
    * dangling-mass term.
    *
    * 100 TB posture: the adjacency is materialized ONCE as node-keyed
    * chunked destination arrays (checkpointed adjacency is how every
    * production Pregel run ships; the [[AdjChunk]] split bounds hub rows,
    * each chunk carrying the full degree for the divisor). Each iteration
    * is one node×node equi-join rank⋈adjacency (AQE broadcasts the rank
    * side while it fits, co-partitioned sort-merge beyond) and one
    * edge-sized contribution shuffle for the destination sum — plan depth
    * linear in the FIXED iteration count. Integer ranks make the result
    * independent of partitioning, join order, and engine — the 5-step
    * unrolled DuckDB oracle reproduces it bit-for-bit. */
  /** Symmetric adjacency as NODE-keyed chunked arrays, materialized once
    * and memoized per (session, corpus): every iteration of g02 and every
    * superstep of g08 then scans a node-sized table (sf0.1: ~20 MB of
    * packed longs vs a 4.8M-row directed edge list) and the rank/label
    * join is node×node. Chunking the destination lists at [[AdjChunk]]
    * rows is the hub-skew guard — a celebrity node's adjacency splits
    * across rows (each chunk still carries the FULL degree for g02's
    * contribution divisor), so no task ever holds an unbounded array.
    * Each row carries its chunk ordinal `ci`; chunks slice the SORTED
    * neighbor list in order, so `ci = 0` holds a node's smallest-id
    * neighbors — g09's capped witness lists read straight off it. */
  private[graft] val chunkedAdjacency: Artifact[DataFrame] =
    Artifact("chunked_adjacency", "copurchase_edges") { (s, d) =>
      val e = copurchaseEdges(s, d)
      val adjPath = Scratch.path("pr_adjacency", d, s)
      e.select(col("x").as("src"), col("y").as("dst"))
        .unionAll(e.select(col("y").as("src"), col("x").as("dst")))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("dg"), sort_array(collect_list(col("dst"))).as("ds"))
        .select(col("src").as("v"), col("dg"), posexplode(expr(
          s"""transform(sequence(0, cast(ceil(size(ds) / $AdjChunk.0) as int) - 1),
             |  c -> slice(ds, c * $AdjChunk + 1, $AdjChunk))""".stripMargin))
          .as(Seq("ci", "chunk")))
        .write.mode("overwrite").parquet(adjPath)
      s.read.parquet(adjPath)
    }

  def g02Pagerank(s: SparkSession, d: String): DataFrame = {
    val adj = chunkedAdjacency(s, d)
    val nodes = adj.select(col("v"), col("dg")).distinct()
    // N is model state (one bounded scalar): resolving it on the driver once
    // keeps the per-iteration plan free of a crossJoin(broadcast(count))
    // subplan — round 5 carried six such subplans (one per iteration plus
    // init), each re-scanning the adjacency for a number that never changes.
    val n = nodes.count()
    var ranks = nodes.select(col("v"), expr(s"$PrScale div ${n}L").as("r"))
    for (_ <- 1 to PrIters) {
      ranks = adj
        .join(ranks, Seq("v"))
        .select(explode(col("chunk")).as("dst"), expr("r div dg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("inc"))
        .select(col("dst").as("v"),
          expr(s"(${prBase(s"${n}L")}) + ((85 * inc) div 100)").as("r"))
    }
    ranks
      .join(nodes, Seq("v"))
      .select(col("v").as("node_id"), col("dg").as("degree"),
        col("r").as("rank_fp"))
      .orderBy(col("node_id"))
  }

  val g02Sql: String = {
    val base = prBase("(SELECT n FROM nn)").replace(" div ", " // ")
    val iters = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT a.dst AS v,
         |    $base + (85 * CAST(SUM(p.r // a.dg) AS BIGINT)) // 100 AS r
         |  FROM adj a JOIN r${i - 1} p ON p.v = a.src
         |  GROUP BY a.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS k FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.k AS x, b.k AS y
       |  FROM li a JOIN li b ON a.o = b.o AND a.k < b.k),
       |dir AS (SELECT x AS src, y AS dst FROM e
       |        UNION ALL SELECT y, x FROM e),
       |deg AS (SELECT src, COUNT(*) AS dg FROM dir GROUP BY src),
       |adj AS (SELECT dir.src, dir.dst, deg.dg FROM dir JOIN deg USING (src)),
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (SELECT src AS v, $PrScale // (SELECT n FROM nn) AS r FROM deg),
       |$iters
       |SELECT r$PrIters.v AS node_id, deg.dg AS degree, r$PrIters.r AS rank_fp
       |FROM r$PrIters JOIN deg ON deg.src = r$PrIters.v
       |ORDER BY node_id""".stripMargin
  }

  // === g03 — k-core peeling ==================================================

  private val CoreK = 75      // below every SF's median degree — peels the tail, keeps a core
  private val PeelRounds = 3

  /** G03 (extension): bulk-synchronous k-core peeling — [[PeelRounds]]
    * synchronized rounds of "remove every node whose CURRENT degree is
    * below [[CoreK]], with its edges", the dense-subgraph extraction that
    * locates the stable heart of a co-occurrence graph (spam/anomaly
    * filtering, community seeding). The true k-core iterates to a
    * data-dependent fixpoint; the FIXED round count is the deterministic
    * bulk-synchronous form (each round is exactly one superstep, the
    * contract every engine can replay), and in practice peeling converges
    * in a handful of supersteps on power-law graphs. All arithmetic is
    * integer degree counting — exact on any engine.
    *
    * 100 TB posture: per round, one degree aggregation plus two semi-join
    * filters of the edge set against the node-sized survivor table (AQE
    * broadcasts it while it fits); the shrinking edge set is MATERIALIZED
    * at the middle round (g02's Pregel discipline — round r+1 must scan
    * round r's edges three times, and replaying a growing join lineage
    * every round would square the work; the final round is consumed once
    * and stays lazy). Output: the surviving nodes with their residual
    * in-subgraph degree. */
  def g03KcorePeel(s: SparkSession, d: String): DataFrame = {
    var e = copurchaseEdges(s, d)
    // caches released the moment a materialization covers them (guide §5
    // "unpersist when done"); the r14 form cached each round's survivor
    // set with no release — in a 294-query sweep those blocks (rooted at
    // per-invocation checkpoint RDDs, so never plan-deduplicated)
    // outlived every invocation
    var releasable: List[DataFrame] = Nil
    for (r <- 1 to PeelRounds) {
      // Round 1's degrees already exist in the memoized chunked adjacency
      // (one node-sized scan of its (v, dg) pairs); later rounds aggregate
      // the shrunk edge set. Same numbers, one less full-edge-set pass.
      val alive =
        (if (r == 1)
          chunkedAdjacency(s, d).select(col("v"), col("dg")).distinct()
        else degrees(e))
          .filter(col("dg") >= CoreK).select(col("v"))
          .cache() // node-sized, consumed by BOTH endpoint semi-filters —
                   // uncached, each join side re-ran the degree aggregation
                   // over the round's residual edge set
      releasable ::= alive
      val next = e
        .join(alive.withColumnRenamed("v", "x"), Seq("x"))
        .join(alive.withColumnRenamed("v", "y"), Seq("y"))
        .select(col("x"), col("y"))
      // Materialize ONLY the middle round. Round r's table is consumed 3×
      // (degrees + both join sides) by round r+1, so leaving every round
      // lazy multiplies replays ~3× per level — but the FINAL round is
      // consumed exactly ONCE (the closing degrees), so the r14 form's
      // last-round localCheckpoint was a full residual-edge-set copy for
      // nothing (measured r15 idle: dropping it is the difference between
      // 3 eager jobs and 2 per invocation). The r2 materialization goes
      // through persist()+count(), not localCheckpoint: its lineage roots
      // at the memoized edge parquet, so the entry is PLAN-CANONICAL —
      // every invocation (and the bench retry) shares one cache entry
      // instead of stacking fresh checkpoint RDDs — and an evicted
      // partition replays its lineage where a lost localCheckpoint block
      // kills the job at 1000-executor scale (guide §5, the
      // fault-tolerance bound the r14 verdict asked for).
      if (r % 2 == 0) {
        val ck = next.persist()
        ck.count()
        // previous rounds' caches are now strictly upstream of a
        // materialized round; release them (eviction-replay still correct)
        releasable.foreach(_.unpersist(false))
        releasable = List(ck)
        e = ck
      } else e = next
    }
    // alive(last) + the r2 edge cache stay for the caller's action — both
    // plan-canonical (rooted at the edge parquet), so repeat invocations
    // REUSE rather than re-register them: bounded storage, LRU-evictable
    // with graceful replay, not per-invocation bleed
    degrees(e)
      .select(col("v").as("node_id"), col("dg").as("residual_deg"))
      .orderBy(col("node_id"))
  }

  val g03Sql: String = {
    val rounds = (1 to PeelRounds).map { r =>
      s"""alive$r AS (
         |  SELECT v FROM (
         |    SELECT v, COUNT(*) AS dg FROM (
         |      SELECT x AS v FROM e${r - 1} UNION ALL SELECT y FROM e${r - 1})
         |    GROUP BY v) WHERE dg >= $CoreK),
         |e$r AS (
         |  SELECT e.x, e.y FROM e${r - 1} e
         |  JOIN alive$r ax ON ax.v = e.x
         |  JOIN alive$r ay ON ay.v = e.y)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS k FROM lineitem),
       |e0 AS (
       |  SELECT DISTINCT a.k AS x, b.k AS y
       |  FROM li a JOIN li b ON a.o = b.o AND a.k < b.k),
       |$rounds
       |SELECT v AS node_id, COUNT(*) AS residual_deg FROM (
       |  SELECT x AS v FROM e$PeelRounds UNION ALL SELECT y FROM e$PeelRounds)
       |GROUP BY v ORDER BY node_id""".stripMargin
  }

  // === g04 — edge embeddedness (tie strength) ================================

  private val EmbTopK = 100

  /** G04 (extension): top-[[EmbTopK]] edges by EMBEDDEDNESS — the number
    * of triangles an edge closes (= common neighbors of its endpoints),
    * the classic tie-strength signal: high-embeddedness co-purchase edges
    * are stable product affinities, zero-embeddedness ones are bridges or
    * noise (the spam-edge filter in link analysis).
    *
    * Plan: reuse [[triangleRows]] (each triangle produced exactly once),
    * explode each into its three canonical (min, max) endpoint pairs, and
    * count per pair — work proportional to the TRIANGLE count, never to
    * Σ deg² (computing |N(x) ∩ N(y)| per edge directly would re-walk full
    * neighborhoods per edge; the oriented enumeration already did that
    * work once for the whole graph). The top-k lands in
    * TakeOrderedAndProject (bounded heaps, no global sort); only the k
    * survivors see the rank window. */
  def g04Embeddedness(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = triangleRows(s, d).select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    pairs
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("embeddedness"))
      .orderBy(col("embeddedness").desc, col("a"), col("b")).limit(EmbTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("embeddedness").desc, col("a"), col("b")))
        .cast(LongType))
      .select(col("rank"), col("a"), col("b"), col("embeddedness"))
      .orderBy(col("rank"))
  }

  val g04Sql: String =
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS k FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.k AS x, b.k AS y
       |  FROM li a JOIN li b ON a.o = b.o AND a.k < b.k),
       |t AS (
       |  SELECT e1.x AS u, e1.y AS v, e2.y AS w
       |  FROM e e1
       |  JOIN e e2 ON e2.x = e1.x AND e2.y > e1.y
       |  JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y),
       |pairs AS (
       |  SELECT u AS a, v AS b FROM t
       |  UNION ALL SELECT u, w FROM t
       |  UNION ALL SELECT v, w FROM t),
       |c AS (SELECT a, b, COUNT(*) AS embeddedness FROM pairs GROUP BY 1, 2),
       |r AS (
       |  SELECT *, row_number() OVER (
       |    ORDER BY embeddedness DESC, a, b) AS rank
       |  FROM c)
       |SELECT rank, a, b, embeddedness FROM r
       |WHERE rank <= $EmbTopK ORDER BY rank""".stripMargin

  // === g05 — multi-source BFS hop distance ===================================

  private val BfsRounds = 3
  private val SeedMod = 1000L
  private val SeedRem = 7L

  /** G05 (extension): multi-source BFS — hop distance from a SEED SET
    * (every node with `id % 1000 == 7`), [[BfsRounds]] bulk-synchronous
    * supersteps. "Distance to the nearest seed" is the graph-propagation
    * primitive behind trust/spam label spreading and influence radius:
    * seeds are the labeled nodes, the frontier carries the label outward
    * one hop per superstep. Multi-source (vs single-source) is also the
    * form that load-balances: the frontier starts |seeds|-wide, so no
    * superstep is a one-task straggler.
    *
    * Per superstep: one adjacency⋈frontier equi-join on the memoized
    * node-keyed chunked adjacency (node-sized scan, frontier-proportional
    * explode), a distinct on the discovered set, and one anti-join
    * against the visited table; the visited set is MATERIALIZED at the
    * middle round (g03's cadence — a skipped round replays one cheap
    * node-sized join; the final round is consumed once and stays lazy).
    * All arithmetic is integer hop counting; the unrolled frontier CTEs
    * make the oracle replay the exact same supersteps. */
  def g05BfsHops(s: SparkSession, d: String): DataFrame = {
    // Frontier expansion off the MEMOIZED node-keyed chunked adjacency
    // (g02/g08's artifact) instead of a per-round scan of the full
    // directed edge list: the equi-join touches node-sized rows and
    // explodes ONLY frontier-adjacent destination chunks — the same
    // discovered set (chunks partition the full sorted neighbor list),
    // at every scale a frontier-proportional scan, not an edge-set one.
    val adj = chunkedAdjacency(s, d)
    val nodes = adj.select(col("v")).distinct()
    var visited = nodes.filter(col("v") % SeedMod === SeedRem)
      .select(col("v"), lit(0L).as("dist"))
    var frontier = visited.select(col("v"))
    for (r <- 1 to BfsRounds) {
      val discovered = adj
        .join(frontier, Seq("v"))
        .select(explode(col("chunk")).as("v")).distinct()
        .join(visited.select(col("v")), Seq("v"), "left_anti")
        .select(col("v"), lit(r.toLong).as("dist"))
      // g03's cadence, minus the final-round copy: a mid-loop round's
      // visited set is consumed 3× (next round's anti-join, frontier
      // filter, the union), so the MIDDLE round materializes via
      // persist()+count() — plan-canonical from the memoized adjacency
      // parquet, so one cache entry is shared across invocations, and an
      // evicted partition replays its lineage where a lost localCheckpoint
      // block kills the job at cluster scale (guide §5). The FINAL round's
      // table is consumed exactly once by the caller's action, so the r14
      // form's last-round localCheckpoint was a full visited-set copy for
      // nothing.
      if (r % 2 == 0 && r < BfsRounds) {
        val ck = visited.unionAll(discovered).persist()
        ck.count()
        visited = ck
      } else visited = visited.unionAll(discovered)
      frontier = visited.filter(col("dist") === r.toLong).select(col("v"))
    }
    // the middle round's node-sized cache stays for the caller's action
    // (g03's bound: plan-canonical, LRU-evictable, replayable)
    visited.select(col("v").as("node_id"), col("dist"))
      .orderBy(col("node_id"))
  }

  val g05Sql: String = {
    val rounds = (1 to BfsRounds).map { r =>
      s"""f$r AS (
         |  SELECT DISTINCT d.dst AS v FROM dir d
         |  JOIN f${r - 1} f ON f.v = d.src
         |  WHERE NOT EXISTS (SELECT 1 FROM v${r - 1} p WHERE p.v = d.dst)),
         |v$r AS (
         |  SELECT v, dist FROM v${r - 1}
         |  UNION ALL SELECT v, $r AS dist FROM f$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS k FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.k AS x, b.k AS y
       |  FROM li a JOIN li b ON a.o = b.o AND a.k < b.k),
       |dir AS (SELECT x AS src, y AS dst FROM e
       |        UNION ALL SELECT y, x FROM e),
       |n AS (SELECT DISTINCT src AS v FROM dir),
       |f0 AS (SELECT v FROM n WHERE v % $SeedMod = $SeedRem),
       |v0 AS (SELECT v, CAST(0 AS BIGINT) AS dist FROM f0),
       |$rounds
       |SELECT v AS node_id, CAST(dist AS BIGINT) AS dist
       |FROM v$BfsRounds ORDER BY node_id""".stripMargin
  }

  // === g06 — degree assortativity ============================================

  /** G06 (extension): degree ASSORTATIVITY — Newman's r (Pearson
    * correlation of endpoint degrees over the directed edge list): the
    * one-number mixing diagnostic that separates hub-to-hub graphs
    * (r > 0, social-style) from hub-to-leaf graphs (r < 0, web/biology
    * style) — the first thing to check before trusting degree-targeted
    * sampling or peeling heuristics on a new corpus graph.
    *
    * Exactness is a22's argument transplanted to the graph: degree
    * products are integers, so the five power sums accumulate in
    * DECIMAL(38,0) (order-free under any partitioning) and the Pearson
    * formula runs in double at the output boundary with the oracle's
    * exact expression shape. Both edge directions enter (the standard
    * undirected treatment — makes Σx = Σy by symmetry but the formula
    * stays general).
    *
    * Scale shape: degree table (one aggregation) joined to both edge
    * endpoints — node-keyed equi-joins AQE broadcasts while degrees fit —
    * then ONE global algebraic aggregation; nothing quadratic, nothing
    * driver-side. */
  def g06Assortativity(s: SparkSession, d: String): DataFrame = {
    val e = copurchaseEdges(s, d)
    // node-sized, one consumer per endpoint join (see computeTriangleRows).
    // Consumed at the CALLER's action, so not releasable here; bounded:
    // the plan is canonical (degrees over the memoized edge parquet), so
    // g06/g11 and repeat invocations share ONE cache entry, LRU-evictable
    // with graceful lineage replay (guide §5).
    val deg = degrees(e).cache()
    def dsum38(c: org.apache.spark.sql.Column) = sum(c.cast(DecimalType(38, 0)))
    val dir = e.select(col("x").as("a"), col("y").as("b"))
      .unionAll(e.select(col("y").as("a"), col("x").as("b")))
    dir
      .join(deg.select(col("v").as("a"), col("dg").as("dx")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("dg").as("dy")), Seq("b"))
      .agg(count(lit(1)).cast(DoubleType).as("n"),
        dsum38(col("dx")).cast(DoubleType).as("sx"),
        dsum38(col("dy")).cast(DoubleType).as("sy"),
        dsum38(col("dx") * col("dy")).cast(DoubleType).as("sxy"),
        dsum38(col("dx") * col("dx")).cast(DoubleType).as("sxx"),
        dsum38(col("dy") * col("dy")).cast(DoubleType).as("syy"))
      .select(col("n").cast(LongType).as("n_directed_edges"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("assortativity"))
  }

  val g06Sql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS k FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.k AS x, b.k AS y
      |  FROM li a JOIN li b ON a.o = b.o AND a.k < b.k),
      |dir AS (SELECT x AS a, y AS b FROM e UNION ALL SELECT y, x FROM e),
      |deg AS (SELECT a AS v, COUNT(*) AS dg FROM dir GROUP BY a),
      |j AS (
      |  SELECT dx.dg AS dx, dy.dg AS dy FROM dir
      |  JOIN deg dx ON dx.v = dir.a
      |  JOIN deg dy ON dy.v = dir.b),
      |m AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(dy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(dx * dy AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(dx * dx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(dy * dy AS DECIMAL(38,0))) AS DOUBLE) AS syy
      |  FROM j)
      |SELECT CAST(n AS BIGINT) AS n_directed_edges,
      |  round((n * sxy - sx * sy) /
      |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
      |    AS assortativity
      |FROM m""".stripMargin

  // === g07 — local clustering coefficient ====================================

  /** G07 (extension): local CLUSTERING COEFFICIENT — per node,
    * c(v) = 2·T(v) / (deg(v)·(deg(v)−1)): the fraction of a node's
    * neighbor pairs that are themselves connected, the local-density
    * signal behind community detection and spam-node filtering (real
    * co-occurrence neighborhoods are cliquish; scraped/injected ones are
    * stars with c ≈ 0).
    *
    * Reuses the memoized triangle enumeration (work ∝ triangles — the g04
    * argument) and the degree table; the coefficient is one exact rational
    * per node, emitted as (triangles, wedge count) BIGINTs plus the one
    * boundary IEEE division. Nodes of degree < 2 have no wedge and are
    * excluded (their coefficient is undefined, not zero). */
  def g07ClusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val tri = triangleRows(s, d)
      .select(explode(array(col("u"), col("v"), col("w"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("triangles"))
    degrees(copurchaseEdges(s, d))
      .filter(col("dg") >= 2)
      .select(col("v").as("node_id"),
        (col("dg") * (col("dg") - 1) / 2).cast(LongType).as("wedges"))
      .join(tri, Seq("node_id"), "left")
      .select(col("node_id"), col("wedges"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        col("triangles").cast(DoubleType) / col("wedges"))
      .orderBy(col("node_id"))
  }

  val g07Sql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS k FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.k AS x, b.k AS y
      |  FROM li a JOIN li b ON a.o = b.o AND a.k < b.k),
      |t AS (
      |  SELECT e1.x AS u, e1.y AS v, e2.y AS w
      |  FROM e e1
      |  JOIN e e2 ON e2.x = e1.x AND e2.y > e1.y
      |  JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y),
      |tc AS (
      |  SELECT node_id, CAST(COUNT(*) AS BIGINT) AS triangles
      |  FROM (SELECT u AS node_id FROM t
      |        UNION ALL SELECT v FROM t
      |        UNION ALL SELECT w FROM t)
      |  GROUP BY node_id),
      |deg AS (
      |  SELECT v AS node_id, COUNT(*) AS dg FROM (
      |    SELECT x AS v FROM e UNION ALL SELECT y FROM e)
      |  GROUP BY v)
      |SELECT deg.node_id,
      |  CAST(dg * (dg - 1) / 2 AS BIGINT) AS wedges,
      |  COALESCE(tc.triangles, 0) AS triangles,
      |  CAST(COALESCE(tc.triangles, 0) AS DOUBLE)
      |    / CAST(dg * (dg - 1) / 2 AS BIGINT) AS clustering
      |FROM deg LEFT JOIN tc USING (node_id)
      |WHERE dg >= 2 ORDER BY deg.node_id""".stripMargin

  // === g08 — synchronous label propagation ===================================

  private val LpaRounds = 3

  /** G08 (extension): COMMUNITY DETECTION by synchronous label propagation
    * (Raghavan et al. 2007) — the near-linear community primitive a corpus
    * pipeline runs where d07's connected components are too coarse (one
    * giant component) and modularity solvers too expensive. Labels start
    * as node ids; each superstep every node adopts the MOST FREQUENT label
    * among its neighbors, ties broken by smallest label — the
    * deterministic variant (classic LPA breaks ties randomly; a random
    * tie-break can never be oracle-replayed, so the CONTRACT here is the
    * (count DESC, label ASC) argmax), run for a FIXED [[LpaRounds]]
    * supersteps (the bulk-synchronous form, g03's argument).
    *
    * 100 TB posture: per superstep, one NODE×NODE equi-join of the
    * memoized chunked adjacency (g02's artifact, shared) against the
    * label table, a map-side chunk explode, one (dst, label) count
    * aggregation, and the per-node argmax as a PACKED-LONG MAX (a31's
    * trick: count in the high 32 bits, bit-flipped label in the low 32, so
    * max(packed) IS the (count DESC, label ASC) argmax) — two stacked
    * hash aggregations riding the same key shuffle, never a sort, never a
    * window. Labels are CHECKPOINTED to parquet each round (the Pregel
    * discipline: round r+1 reads round r once, not its lineage). */
  /** The converged (v, lbl) LPA table, memoized per (session, corpus) —
    * g08 formats it, g10 evaluates it (modularity); the final round's
    * parquet checkpoint IS the artifact, so the memo just holds the
    * read-back. */
  private[graft] val lpaLabels: Artifact[DataFrame] =
    Artifact("lpa_labels", "chunked_adjacency") { (s, d) =>
      val adj = chunkedAdjacency(s, d)
      var labels = adj.select(col("v")).distinct()
        .select(col("v"), col("v").as("lbl"))
      var prev: Option[DataFrame] = None
      for (r <- 1 to LpaRounds) {
        val next = adj
          .join(labels.withColumnRenamed("lbl", "l"), Seq("v"))
          .select(explode(col("chunk")).as("dst"), col("l"))
          .groupBy(col("dst"), col("l"))
          .agg(count(lit(1)).as("c"))
          // (count DESC, label ASC) argmax as one packed max: labels are
          // part keys < 2^32, counts ≤ degree < 2^31 — both fit their halves
          .groupBy(col("dst"))
          .agg(max(shiftleft(col("c"), 32) +
            (lit((1L << 32) - 1) - col("l"))).as("packed"))
          .select(col("dst").as("v"),
            (lit((1L << 32) - 1) - (col("packed") % (1L << 32))).as("lbl"))
        // intermediate rounds materialize via persist()+count() (g03's
        // argument: stats, eviction-replay, deterministic release — guide
        // §5), each released as soon as the next round lands; only the
        // FINAL round's labels are the parquet artifact the memo serves
        // to g08/g10
        if (r < LpaRounds) {
          val ck = next.persist()
          ck.count()
          prev.foreach(_.unpersist(false))
          prev = Some(ck)
          labels = ck
        } else {
          val roundPath = Scratch.path(s"g08_round$r", d, s)
          next.write.mode("overwrite").parquet(roundPath)
          prev.foreach(_.unpersist(false))
          prev = None
          labels = s.read.parquet(roundPath)
        }
      }
      labels
    }

  def g08LabelProp(s: SparkSession, d: String): DataFrame =
    lpaLabels(s, d).select(col("v").as("node_id"), col("lbl").as("community"))
      .orderBy(col("node_id"))

  /** The LPA recurrence as a reusable CTE prefix (g08 formats its final
    * round; g10 evaluates it). */
  private def lpaCte: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""l$r AS (
         |  SELECT v, lbl FROM (
         |    SELECT d.dst AS v, l.lbl,
         |      row_number() OVER (
         |        PARTITION BY d.dst ORDER BY COUNT(*) DESC, l.lbl) AS rn
         |    FROM dir d JOIN l${r - 1} l ON l.v = d.src
         |    GROUP BY d.dst, l.lbl) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""li AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS k FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.k AS x, b.k AS y
       |  FROM li a JOIN li b ON a.o = b.o AND a.k < b.k),
       |dir AS (SELECT x AS src, y AS dst FROM e
       |        UNION ALL SELECT y, x FROM e),
       |l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM dir),
       |$rounds""".stripMargin
  }

  val g08Sql: String =
    s"""WITH $lpaCte
       |SELECT v AS node_id, lbl AS community
       |FROM l$LpaRounds ORDER BY node_id""".stripMargin

  // === g10 — modularity of the LPA partition =================================

  /** G10 (extension): MODULARITY — Newman's Q for the g08 partition, the
    * standard quality score of a community assignment (Q > 0 means more
    * intra-community edges than a degree-preserving random graph would
    * give). Closes the detection→evaluation loop: a pipeline that runs
    * LPA needs this number to decide whether the partition is usable.
    *
    * Exactness (a33/a34's argument on the graph): Q = Σ_c (4m·e_c − d_c²)
    * / 4m² is RATIONAL in the edge/degree counts — the numerator
    * accumulates in DECIMAL(38,0) (order-free, and 38 digits survives
    * m ~ 10¹²-edge graphs where BIGINT would overflow 4m²), and the one
    * IEEE division happens at the output boundary in the oracle's
    * expression shape. No integer division anywhere, so no floor-semantics
    * trap on the (legitimately negative) numerator.
    *
    * Scale shape: two node-keyed equi-joins to label the edge endpoints
    * (labels node-sized, AQE broadcasts while they fit), one community
    * aggregation each for e_c and d_c, one rollup row out. */
  def g10Modularity(s: SparkSession, d: String): DataFrame = {
    val e = copurchaseEdges(s, d)
    val lab = lpaLabels(s, d)
    val intra = e
      .join(lab.select(col("v").as("x"), col("lbl").as("lx")), Seq("x"))
      .join(lab.select(col("v").as("y"), col("lbl").as("ly")), Seq("y"))
      .filter(col("lx") === col("ly"))
      .groupBy(col("lx").as("c")).agg(count(lit(1)).as("ec"))
    val dsum = degrees(e).join(lab, Seq("v"))
      .groupBy(col("lbl").as("c")).agg(sum(col("dg")).as("dc"))
    val mDf = e.agg(count(lit(1)).as("m"))
    dsum.join(intra, Seq("c"), "left").crossJoin(broadcast(mDf))
      .select(col("m"), expr(
        """cast(4 as decimal(38,0)) * m * coalesce(ec, 0)
          | - cast(dc as decimal(38,0)) * dc""".stripMargin.replace("\n", " "))
        .as("t"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_communities"), sum(col("t")).as("qn"))
      .select(col("n_communities"), col("m").as("n_edges"),
        col("qn").cast(LongType).as("q_num"),
        round(col("qn").cast(DoubleType) /
          (lit(4.0) * col("m") * col("m")), 6).as("modularity"))
  }

  val g10Sql: String =
    s"""WITH $lpaCte,
       |lab AS (SELECT v, lbl FROM l$LpaRounds),
       |deg AS (SELECT src AS v, COUNT(*) AS dg FROM dir GROUP BY src),
       |mm AS (SELECT COUNT(*) AS m FROM e),
       |intra AS (
       |  SELECT la.lbl AS c, COUNT(*) AS ec
       |  FROM e
       |  JOIN lab la ON la.v = e.x
       |  JOIN lab lb ON lb.v = e.y
       |  WHERE la.lbl = lb.lbl GROUP BY la.lbl),
       |terms AS (
       |  SELECT dsum.c,
       |    4 * CAST(mm.m AS HUGEINT) * COALESCE(intra.ec, 0)
       |      - CAST(dsum.dc AS HUGEINT) * dsum.dc AS t,
       |    mm.m AS m
       |  FROM (SELECT lab.lbl AS c, SUM(deg.dg) AS dc
       |        FROM deg JOIN lab ON lab.v = deg.v GROUP BY lab.lbl) dsum
       |  CROSS JOIN mm
       |  LEFT JOIN intra ON intra.c = dsum.c)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  CAST(MAX(m) AS BIGINT) AS n_edges,
       |  CAST(SUM(t) AS BIGINT) AS q_num,
       |  round(CAST(SUM(t) AS DOUBLE) / (4.0 * MAX(m) * MAX(m)), 6)
       |    AS modularity
       |FROM terms""".stripMargin

  // === g09 — common-neighbor link prediction =================================

  private val NbrCap = 32
  private val LinkTopK = 100

  /** G09 (extension): LINK PREDICTION by common-neighbor counting — the
    * top-[[LinkTopK]] NON-edges ranked by how many neighbors their
    * endpoints share (Liben-Nowell & Kleinberg 2003), the
    * "products-that-should-co-occur" / recommended-pair primitive.
    *
    * Candidate pairs only ever arise as two neighbors of a shared witness
    * node, so generation is wedge enumeration — and raw wedge count is
    * Σ deg², unbounded under hubs. The scale contract: every node's
    * witness list is TRUNCATED to its [[NbrCap]] smallest-id neighbors
    * (the deterministic form of the per-node neighbor cap production
    * link-prediction systems apply; id-order rather than weight-order so
    * the oracle replays it), bounding fan-out at C(cap, 2) pairs per node
    * — total work ≤ 496·N rows regardless of skew. Scores therefore count
    * common CAPPED neighbors; the cap is part of the operator contract.
    *
    * Shape: the capped witness lists come straight off the MEMOIZED
    * chunked adjacency ([[chunkedAdjacency]] — its per-node `ds` list is
    * the sorted distinct neighbor set, so chunk 0's first [[NbrCap]]
    * elements ARE the smallest-id cap; [[AdjChunk]] ≥ cap keeps them in
    * one chunk). That kills the one per-invocation full-edge shuffle this
    * entry used to pay — a 4.8M-row directed-edge sort-aggregate whose
    * spill was the r6 driver's 12× amplification surface — leaving a
    * node-sized parquet scan, the per-row HOF pair expansion (no
    * self-join — the copurchaseEdges pattern), one (a, b) count shuffle,
    * an anti-join against the edge set to keep only non-edges, and a
    * bounded top-k (TakeOrderedAndProject; only the k survivors see the
    * rank window). */
  def g09LinkPredict(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = copurchaseEdges(s, d)
    // the witness-pair stream is PACKED LONGS end to end
    // ([[graft.functions.PairCodes]]): the per-node C(cap, 2) expansion is
    // one codegen pass emitting (a << 32) | b, the count groups on a single
    // primitive key, and the existing-edge anti-join probes the SAME packed
    // code — the two-column (a, b) shape only materializes on the final
    // LinkTopK rows. The previous interpreted HOF chain allocated O(cap)
    // sliced arrays + O(cap²) structs per node and dominated the query.
    val pairs = chunkedAdjacency(s, d)
      .filter(col("ci") === 0)
      .select(slice(col("chunk"), 1, NbrCap).as("ns"))
      .filter(size(col("ns")) >= 2)
      .select(explode(pairCodes(col("ns"))).as("pc"))
    val edgeCodes = e.select(
      (shiftleft(col("x"), 32).bitwiseOR(col("y"))).as("pc"))
    pairs
      .groupBy(col("pc")).agg(count(lit(1)).as("score"))
      .join(edgeCodes, Seq("pc"), "left_anti")
      .select(shiftright(col("pc"), 32).as("a"),
        col("pc").bitwiseAND(lit(0xFFFFFFFFL)).as("b"), col("score"))
      .orderBy(col("score").desc, col("a"), col("b")).limit(LinkTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("a"), col("b"))).cast(LongType))
      .select(col("rank"), col("a"), col("b"), col("score"))
      .orderBy(col("rank"))
  }

  val g09Sql: String =
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS k FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.k AS x, b.k AS y
       |  FROM li a JOIN li b ON a.o = b.o AND a.k < b.k),
       |dir AS (SELECT x AS src, y AS dst FROM e
       |        UNION ALL SELECT y, x FROM e),
       |nb AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
       |    FROM dir) WHERE rn <= $NbrCap),
       |sc AS (
       |  SELECT n1.dst AS a, n2.dst AS b, COUNT(*) AS score
       |  FROM nb n1 JOIN nb n2 ON n1.src = n2.src AND n1.dst < n2.dst
       |  GROUP BY 1, 2),
       |ne AS (
       |  SELECT sc.a, sc.b, sc.score FROM sc
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM e WHERE e.x = sc.a AND e.y = sc.b)),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY score DESC, a, b) AS rank
       |  FROM ne)
       |SELECT rank, a, b, score FROM r
       |WHERE rank <= $LinkTopK ORDER BY rank""".stripMargin

  // === g11 — neighborhood Jaccard per edge ===================================

  private val JacTopK = 100

  /** G11 (extension): top-[[JacTopK]] edges by NEIGHBORHOOD JACCARD —
    * |N(a)∩N(b)| / |N(a)∪N(b)∖{a,b}|, g04's embeddedness normalized by
    * the union: the calibrated tie-strength used for weighted graph
    * sparsification (an absolute common-neighbor count of 10 means
    * everything between two leaf nodes and nothing between two hubs; the
    * Jaccard form makes them comparable). The ratio is RATIONAL —
    * common from the shared triangle enumeration (work ∝ triangles),
    * union = deg(a) + deg(b) − 2 − common from the degree table — and the one
    * IEEE division lands at the output boundary; ties break on (a, b).
    *
    * Scale shape: one pair-count aggregation over the memoized triangle
    * table, two node-keyed degree joins (broadcast while degrees fit), a
    * bounded TakeOrderedAndProject. Edges in no triangle have Jaccard 0
    * and cannot reach a top-k that any triangle edge occupies. */
  def g11EdgeJaccard(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // node-sized, one consumer per endpoint join; same shared
    // plan-canonical cache entry as g06's (see the bound there)
    val deg = degrees(copurchaseEdges(s, d)).cache()
    val common = triangleRows(s, d).select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("v").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("dg").as("db")), Seq("b"))
      .withColumn("union_size", col("da") + col("db") - 2 - col("common"))
      .withColumn("jaccard",
        round(col("common").cast(DoubleType) / col("union_size"), 6))
      .orderBy(col("jaccard").desc, col("a"), col("b")).limit(JacTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("jaccard").desc, col("a"), col("b"))).cast(LongType))
      .select(col("rank"), col("a"), col("b"), col("common"),
        col("union_size"), col("jaccard"))
      .orderBy(col("rank"))
  }

  val g11Sql: String =
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS k FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.k AS x, b.k AS y
       |  FROM li a JOIN li b ON a.o = b.o AND a.k < b.k),
       |t AS (
       |  SELECT e1.x AS u, e1.y AS v, e2.y AS w
       |  FROM e e1
       |  JOIN e e2 ON e2.x = e1.x AND e2.y > e1.y
       |  JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y),
       |pairs AS (
       |  SELECT u AS a, v AS b FROM t
       |  UNION ALL SELECT u, w FROM t
       |  UNION ALL SELECT v, w FROM t),
       |cm AS (SELECT a, b, COUNT(*) AS common FROM pairs GROUP BY 1, 2),
       |deg AS (
       |  SELECT v, COUNT(*) AS dg FROM (
       |    SELECT x AS v FROM e UNION ALL SELECT y FROM e)
       |  GROUP BY v),
       |j AS (
       |  SELECT cm.a, cm.b, cm.common,
       |    da.dg + db.dg - 2 - cm.common AS union_size,
       |    round(CAST(cm.common AS DOUBLE)
       |      / (da.dg + db.dg - 2 - cm.common), 6) AS jaccard
       |  FROM cm
       |  JOIN deg da ON da.v = cm.a
       |  JOIN deg db ON db.v = cm.b),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY jaccard DESC, a, b) AS rank
       |  FROM j)
       |SELECT rank, a, b, common, union_size, jaccard FROM r
       |WHERE rank <= $JacTopK ORDER BY rank""".stripMargin

  /** This module's rows of [[graft.Artifacts.all]], in prebuild order. */
  val artifacts: Seq[Artifact[_]] = Seq(
    copurchaseEdges, triangleRows, chunkedAdjacency, lpaLabels)

  val entries: Seq[Entry] = Seq(
    Entry("g01_triangle_count", g01TriangleCount _, g01Sql),
    Entry("g02_pagerank", g02Pagerank _, g02Sql),
    Entry("g03_kcore_peel", g03KcorePeel _, g03Sql),
    Entry("g04_embeddedness", g04Embeddedness _, g04Sql),
    Entry("g05_bfs_hops", g05BfsHops _, g05Sql),
    Entry("g06_assortativity", g06Assortativity _, g06Sql),
    Entry("g07_clustering", g07ClusteringCoeff _, g07Sql),
    Entry("g08_label_prop", g08LabelProp _, g08Sql),
    Entry("g09_link_predict", g09LinkPredict _, g09Sql),
    Entry("g10_modularity", g10Modularity _, g10Sql),
    Entry("g11_edge_jaccard", g11EdgeJaccard _, g11Sql))
}
