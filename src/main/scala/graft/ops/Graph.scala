package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.{keep, seal}

/** Iterative graph analytics over relational data. The reference has
  * no graph surface; this is north-star breadth alongside
  * [[graft.llm.Dedup.connectedComponents]] — and the determinism
  * story is the interesting part: PageRank is usually float-valued
  * and iteration-order-dependent, but with ranks held in integer
  * pico-units and every division a floor, the fixpoint trajectory is
  * bit-identical in any engine, so even an ITERATIVE algorithm gets a
  * full hash oracle (the oracle unrolls the same five iterations as
  * chained CTEs — no vendor recursive-CTE semantics relied on).
  */
object Graph {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Largest basket the co-purchase self-joins will expand. The
    * per-order pair blow-up is (lines/order)² — a data constant on
    * TPC-H (≤7 lines ⇒ ≤21 pairs) but an unbounded corpus property
    * in general: ONE mega-basket of 10⁵ items would emit 5·10⁹ pairs
    * into a single task. 64 keeps the per-key expansion ≤2 016 rows
    * (provably safe) while sitting 9× above anything the generator
    * emits. */
  val BasketCap = 64

  /** Guards a distinct (o, p) basket frame with an IN-PLAN basket-size
    * invariant before its quadratic self-join: any order carrying more
    * than [[BasketCap]] distinct items turns its `p` values into a
    * `raise_error`, failing the job fast instead of letting one skewed
    * key OOM an executor at corpus scale. The count rides a window
    * partitioned by `o` — the SAME key the self-join shuffles on — so
    * the guard adds no extra pass over the data and the exchange it
    * introduces is the one the join needs anyway. Values are untouched
    * under the cap, so every downstream hash is unchanged (GraphSpec
    * pins both directions). */
  def checkedBasket(op: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("o"))
    op.withColumn("_bsz", count(lit(1)).over(w))
      .withColumn("p",
        when(col("_bsz") > BasketCap,
          raise_error(concat(
            lit(s"basket over cap $BasketCap: order "),
            col("o").cast("string"), lit(" has "),
            col("_bsz").cast("string"), lit(" distinct items")))
            .cast("long"))
          .otherwise(col("p")))
      .select(col("o"), col("p"))
  }

  /** Basket windows already census-audited this session, keyed by
    * `dir|window`. The in-plan [[checkedBasket]] guard rides the
    * join's exchange but still pays a per-partition SORT (the window
    * function's frame ordering) on EVERY co-purchase query — 19 call
    * sites re-auditing the same four (dir, ship-date-window) frames
    * (VERDICT r14 item 8: +38% on q_itemsets, +32% on
    * q_triangle_count). The census is a property of the DATA, not the
    * query, so it runs ONCE per (dir, window): one map-side-combined
    * groupBy count, fail-fast on any over-cap basket, then every
    * later query on the same frame skips straight to the self-join.
    * Values are untouched either way, so hashes are unchanged; an
    * over-cap basket still kills the FIRST query that would have
    * expanded it, just at census time instead of mid-join. On a
    * long-lived 100 TB cluster the memo is per-JVM — new data under
    * the same path needs a new session (the same staleness contract
    * as [[graft.Staging]] state). */
  private val basketAudited =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Memoized census form of [[checkedBasket]]: audits the basket
    * frame once per `dir|window` key, then returns `op` unguarded. */
  def checkedBasket(op: DataFrame, memoKey: String): DataFrame = {
    if (!basketAudited.contains(memoKey)) {
      val over = op.groupBy(col("o")).agg(count(lit(1)).as("_bsz"))
        .filter(col("_bsz") > BasketCap).limit(1).collect()
        .map(r => s"order ${r.get(0)}: ${r.getLong(1)} items")
      Audit.check(s"baskets over $BasketCap distinct items, counted up to 1 ($memoKey) " +
        over.mkString("[", "", "]"), over.length, Audit.equal(0))
      basketAudited.add(memoKey)
    }
    op
  }

  /** Transform-shaped adapter for the memoized census: call sites read
    * `.transform(bk(dir, "2y"))` where the tag names the pinned
    * ship-date window ("all", "h1" = 1995-01..07, "2y" = 1995..97,
    * "y1995" = calendar 1995). */
  private def bk(dir: String, window: String): DataFrame => DataFrame =
    op => checkedBasket(op, s"$dir|$window")

  /** STAGED CO-PURCHASE PAIR STORE — the graph family's shared input.
    * Thirteen queries build the identical frame: lineitem windowed to
    * a pinned ship-date slice, distinct (order, part), self-joined on
    * the order into canonical part pairs. That distinct + self-join is
    * seconds of the bench PER QUERY (r15: q_graph_robustness 12.4 s,
    * q_kcore 7.1 s, q_diameter_lb 7.6 s, q_betweenness 6.5 s all pay
    * it) and a pure function of (dir, window) — so it is computed ONCE
    * per application and parquet-staged; every consumer reads the
    * store (the same move [[graft.llm.Similarity.pairStoreMemo]] made
    * for the dbscan family in r15).
    *
    * The store carries `(u, v, co)` — canonical `u < v` pairs with the
    * per-pair co-purchase order count — which subsumes every consumer
    * shape: distinct edges are `select(u, v)` (groupBy keys are
    * unique), weighted edges derive `1000000 div co`, and the
    * top-pairs query reads the counts directly. Longs round-trip
    * parquet bit-exactly, so store vs inline is value-identical and
    * every consumer hash is unchanged.
    *
    * Scale shape: one windowed scan (predicate pushed), one
    * order-keyed shuffle for the distinct, one order-keyed self-join
    * bounded by (items/order)² — then 100 TB of lineitem collapses to
    * a part²-bounded pair table written once and scanned by every
    * graph query. The basket census ([[checkedBasket]]) still guards
    * the self-join inside the build. Same staleness contract as
    * [[graft.Staging]]: one application = one corpus snapshot. */
  /** The store-BUILD plan (windowed scan → distinct baskets →
    * order-keyed self-join → pair counts), package-visible so
    * PlanSpec can audit its join shape (hash join on the order key,
    * never a nested loop) now that consumer plans only show the
    * store scan. */
  private[graft] def coPairsBuildPlan(s: SparkSession, dir: String,
      window: String): DataFrame = {
    val base = t(s, dir, "lineitem")
    val windowed = window match {
      case "all" => base
      case "h1" => base.where(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-07-01").cast("timestamp"))
      case "2y" => base.where(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      case "y1995" => base.filter(
        col("l_shipdate").between("1995-01-01", "1995-12-31"))
      case other => throw new IllegalArgumentException(
        s"unknown co-purchase window tag '$other'")
    }
    val op = windowed
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .transform(bk(dir, window))
    op.as("a").join(op.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("co"))
  }

  def coPairs(s: SparkSession, dir: String, window: String): DataFrame =
    graft.Staging.store(s, s"graft_coedges_$window", dir)(
      coPairsBuildPlan(s, dir, window))

  /** Distinct canonical undirected co-purchase edges `(u, v)`, u < v,
    * from the staged store — the input shape most graph queries use. */
  def coEdges(s: SparkSession, dir: String, window: String): DataFrame =
    coPairs(s, dir, window).select(col("u"), col("v"))

  /** Staged CUSTOMER↔SUPPLIER BIPARTITE PAIR STORE `(c, p)` — the
    * second shared graph input: six queries (pagerank, label_prop and
    * its staged state, hits, modularity, luby_mis) build the identical
    * distinct (customer, supplier) pair list from lineitem ⋈ orders;
    * windows "all" (full history) and "m1" (January 1995, the
    * per-level-round demos' sparser slice) are staged separately,
    * same device and staleness contract as [[coPairs]]. Consumers
    * apply their own vertex encodings (2k / 2k+1) on the store scan. */
  def csPairs(s: SparkSession, dir: String, window: String): DataFrame =
    graft.Staging.store(s, s"graft_csedges_$window", dir) {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val base = t(s, dir, "lineitem")
      val l = window match {
        case "all" => base.select(col("l_orderkey"), col("l_suppkey"))
        case "m1" => base
          .filter(col("l_shipdate") >= lit("1995-01-01") &&
            col("l_shipdate") < lit("1995-02-01"))
          .select(col("l_orderkey"), col("l_suppkey"))
        case other => throw new IllegalArgumentException(
          s"unknown customer-supplier window tag '$other'")
      }
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("p")).distinct()
    }

  /** Staged TEMPORAL co-purchase edges `(u, v, t)` for the pinned 2y
    * window — the (u, v) pair plus the order date (days since
    * 1995-01-01) of each order that co-purchased them, distinct. The
    * co store can't serve this (it collapsed the order dimension), but
    * the same three-query rebuild argument applies to the temporal
    * family (reach / katz / motifs), so it gets its own store. */
  def temporalEdges(s: SparkSession, dir: String): DataFrame =
    graft.Staging.store(s, "graft_tedges_2y", dir) {
      val op = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        .transform(bk(dir, "2y"))
      val ord = t(s, dir, "orders").select(col("o_orderkey").as("o"),
        datediff(to_date(col("o_orderdate")),
          lit(java.sql.Date.valueOf("1995-01-01"))).cast("long").as("t"))
      op.as("a").join(op.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .join(ord, "o")
        .select(col("a.p").as("u"), col("b.p").as("v"), col("t")).distinct()
    }

  /** PageRank (d = 0.85, 5 iterations) over the bipartite
    * customer↔supplier purchase graph: an edge per distinct
    * (customer, supplier) pair observed in lineitem⋈orders, in both
    * directions so no vertex dangles. Vertex ids are disjointly
    * encoded (customer → 2k, supplier → 2k+1).
    *
    * Rank arithmetic is exact integer pico-units (SCALE = 1e12):
    * init = SCALE div N; each round
    * r'(v) = teleport + (85 · Σ_{u→v} (r(u) div deg(u))) div 100 with
    * teleport = (15 · (SCALE div N)) div 100. Floor losses are part
    * of the definition, so the trajectory is engine-independent.
    *
    * Scale shape: one edge-build join, then per iteration ONE shuffle
    * (contributions grouped by dst) against the persisted edge+degree
    * frames and a 1-row broadcast teleport; the rank table is
    * vertex-sized, never edge-sized. This is the same iterative
    * discipline as [[graft.llm.Dedup.connectedComponents]] (which
    * localCheckpoints per round because its round count is
    * data-dependent; 5 fixed rounds keep the plan tree bounded here). */
  /** The iteration core: symmetric `(src, dst)` edges in, vertex
    * ranks `(v, r)` in integer pico-units out. Vertices are the
    * distinct sources (symmetric edges ⇒ no dangling mass).
    *
    * Execution mirrors [[graft.llm.Dedup.connectedComponents]]: the
    * rounds run in a CLONED session whose shuffle parallelism is
    * sized to the VERTEX table (one partition per 64k vertices, floor
    * 4 — at harness scale 32-partition rounds are pure
    * task-scheduling overhead, and the same rule yields thousands of
    * partitions at billion-vertex scale where it matters), each round
    * `localCheckpoint`s LAZILY so the plan tree stays one-round deep
    * (the first cut left 5 rounds nested in a single plan: 11 s,
    * mostly re-analysis and 32-way scheduling; eager per-round
    * checkpoints cut that to ~5 s but paid a driver action barrier
    * per round — lazy keeps the flat plans AND the single final
    * action), and the edge⋈degree frame is materialized ONCE instead
    * of re-joined every round. The teleport
    * constant folds to a literal — `n` is already on the driver from
    * sizing the parallelism. */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    val origin = edges.sparkSession
    pageRankIterates(edges, iters) match {
      case None => emptyRanks(origin)
      case Some(iterates) => graft.Checkpoints.rebind(origin, iterates.last)
    }
  }

  /** The full per-iteration rank TRAJECTORY `(v, iter, r)` for
    * iter = 0..iters — the state surface [[incrementalPageRank]]
    * consumes: a delta batch can only skip work it can compare
    * against, so the persisted state keeps every intermediate rank
    * frame, not just the fixpoint ((iters+1) vertex-sized frames —
    * at a billion vertices, ~48 GB of (long, int, long) parquet per
    * iteration count of 5: cheap against the edge set it indexes). */
  def pageRankTrajectory(edges: DataFrame, iters: Int): DataFrame = {
    val origin = edges.sparkSession
    pageRankIterates(edges, iters) match {
      case None => emptyRanks(origin).select(col("v"), lit(0).as("iter"), col("r"))
      case Some(iterates) =>
        graft.Checkpoints.rebind(origin, iterates.zipWithIndex.map { case (df, i) =>
          df.select(col("v"), lit(i).as("iter"), col("r"))
        }.reduce(_.unionByName(_)))
    }
  }

  private def emptyRanks(origin: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    origin.createDataFrame(origin.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("v", LongType), StructField("r", LongType))))
  }

  /** Iteration core shared by [[pageRank]] and [[pageRankTrajectory]]:
    * cloned session with vertex-sized parallelism, lazy lineage cuts;
    * returns the (v, r) frame of EVERY iteration 0..iters (all bound
    * to the internal cloned session). None for the empty graph. */
  private def pageRankIterates(
      edges: DataFrame, iters: Int): Option[Seq[DataFrame]] = {
    val scope = graft.Checkpoints.Scope(edges.sparkSession)
    // materialize the (possibly expensive) edge derivation once; the
    // derivation itself still plans under the caller's session.
    // Lineage cuts go through graft.Checkpoints: localCheckpoint by
    // default, reliable checkpoint() under graft.checkpoint.reliable
    // (cluster mode — survives executor loss mid-iteration)
    val e = graft.Checkpoints.cut(scope.in(edges.select(col("src"), col("dst"))))
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val nV = deg.count()
    // empty graph: no vertices means no ranks (and division by nV
    // below would throw)
    if (nV == 0L) return None
    scope.sizeTo(nV)
    // LAZY checkpoints from here down: they still cut the lineage (so
    // the plan tree stays one-round deep and analysis cost is linear
    // in rounds), but nothing materializes until the caller's single
    // final action — the eager variant paid a driver round trip per
    // round (8 action barriers, ~1.5 s of pure scheduling at sf0.1)
    val ed = graft.Checkpoints.cut(e.join(deg, "src"), eager = false)
    // symmetric edges ⇒ vertex set = distinct sources = deg's keys
    val verts = graft.Checkpoints.cut(deg.select(col("src").as("v")), eager = false)
    val init = 1000000000000L / nV
    val tele = 15L * init / 100L
    var pr = graft.Checkpoints.cut(verts.select(col("v"), lit(init).as("r")), eager = false)
    val iterates = scala.collection.mutable.ArrayBuffer(pr)
    for (_ <- 1 to iters) {
      val contrib = ed.join(pr.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(sum(expr("r div d")).as("contrib"))
      pr = graft.Checkpoints.cut(
        verts.join(contrib, Seq("v"), "left")
          .select(col("v"),
            expr(s"$tele + (85 * coalesce(contrib, CAST(0 AS BIGINT))) div 100").as("r")),
        eager = false)
      iterates += pr
    }
    Some(iterates.toSeq)
  }

  val pagerank: Q = Q(
    "q_pagerank",
    (s, dir) => {
      val cs = csPairs(s, dir, "all")
      val edges = cs.select((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        .unionAll(cs.select((col("p") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
      pageRank(edges, 5).select(
          when(col("v") % 2 === 0, "customer").otherwise("supplier").as("kind"),
          expr("v div 2").as("id"), col("r"))
        .orderBy("kind", "id")
    },
    Some("""
      WITH cs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS p
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (
        SELECT c * 2 AS src, p * 2 + 1 AS dst FROM cs
        UNION ALL
        SELECT p * 2 + 1 AS src, c * 2 AS dst FROM cs),
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
      verts AS (SELECT src AS v FROM deg),
      tele AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      (15 * (1000000000000 // count(*))) // 100 AS t
               FROM verts),
      pr0 AS (SELECT v, 1000000000000 // (SELECT n FROM tele) AS r FROM verts),
      pr1 AS (SELECT verts.v AS v,
                     (SELECT t FROM tele) + (85 * coalesce(c.contrib, 0)) // 100 AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM edges e JOIN deg d ON e.src = d.src JOIN pr0 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr2 AS (SELECT verts.v AS v,
                     (SELECT t FROM tele) + (85 * coalesce(c.contrib, 0)) // 100 AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM edges e JOIN deg d ON e.src = d.src JOIN pr1 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr3 AS (SELECT verts.v AS v,
                     (SELECT t FROM tele) + (85 * coalesce(c.contrib, 0)) // 100 AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM edges e JOIN deg d ON e.src = d.src JOIN pr2 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr4 AS (SELECT verts.v AS v,
                     (SELECT t FROM tele) + (85 * coalesce(c.contrib, 0)) // 100 AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM edges e JOIN deg d ON e.src = d.src JOIN pr3 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr5 AS (SELECT verts.v AS v,
                     (SELECT t FROM tele) + (85 * coalesce(c.contrib, 0)) // 100 AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM edges e JOIN deg d ON e.src = d.src JOIN pr4 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v)
      SELECT CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
             v // 2 AS id, r
      FROM pr5 ORDER BY kind, id"""))

  /** Item co-occurrence mining (market-basket): the top-20 part pairs
    * most often bought in the same order — the counting core of
    * item-item collaborative filtering and association-rule mining.
    *
    * Scale shape: the self-join is keyed on the order — both sides
    * shuffle once on `l_orderkey` and the pair blow-up is bounded by
    * (items/order)², a data constant (~7 ⇒ ≤21 pairs), never
    * corpus×corpus; dedup to distinct (order, part) first so repeat
    * lines of one part can't inflate a pair. The pair-count aggregate
    * then carries the pair VOCABULARY, and top-20 is
    * TakeOrderedAndProject. The `p1 < p2` canonical ordering halves
    * the pair space and makes each unordered pair count once. */
  val copurchase: Q = Q(
    "q_copurchase",
    (s, dir) => {
      coPairs(s, dir, "all")
        .select(col("u").as("p1"), col("v").as("p2"), col("co").as("n_orders"))
        .orderBy(col("n_orders").desc, col("p1").asc, col("p2").asc)
        .limit(20)
    },
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
      SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS n_orders
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      ORDER BY n_orders DESC, p1 ASC, p2 ASC LIMIT 20"""))

  /** Exact triangle counting + global clustering coefficient over the
    * co-purchase graph, by DEGREE-ORDERED edge orientation — the
    * standard distributed algorithm (Suri & Vassilvitskii's MR
    * formulation): orient every undirected edge from its
    * (degree, id)-smaller endpoint, enumerate wedges only at each
    * edge's oriented source, and close them against the undirected
    * edge set. Orientation bounds every vertex's out-degree by
    * O(√m) on any graph (arboricity), so wedge volume — the stage
    * that explodes at 100 TB if enumerated naively at hubs — is
    * O(m^1.5) worst-case instead of Σd² at the hubs; each triangle is
    * counted exactly once (at its orientation-minimal vertex).
    *
    * The oracle counts the same triangles with the simple id-ordered
    * 3-way self-join — orientation-invariant by construction, so the
    * two formulations must agree to the row. Wedge count for the
    * clustering coefficient comes from the degree table (Σd(d−1)/2,
    * orientation-free); all outputs integer-exact, coefficient in
    * integer permille. */
  /** Core oriented-wedge triangle pass over any canonical undirected
    * edge list (u < v, no duplicates) — factored out so tests can
    * feed hand-built graphs. Returns the 1-row stats frame. */
  def triangleStats(edges: DataFrame): DataFrame = {
    // persisted: consumed by the degree count, the orientation join,
    // the closure broadcast, and the edge-count aggregate
    val e = keep(edges)
    val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val eo = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
    // wedges at the oriented source; dst pair kept id-ordered so the
    // closure lookup hits the canonical edge form directly
    val wedges = eo.as("e1").join(eo.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(least(col("e1.dst"), col("e2.dst")).as("u"),
        greatest(col("e1.dst"), col("e2.dst")).as("v"))
    // the closure check must NOT shuffle the wedge stream (wedges
    // outnumber edges ~10:1 here; the map-side stream is the whole
    // point of the oriented algorithm) — broadcast the edge set
    // (16 B/edge) so closure is a map-side semi probe. On a graph
    // whose edge set outgrows the driver, the production variant
    // buckets BOTH sides by (u, v) at write time so the closure join
    // co-locates without either a broadcast or a wedge shuffle; the
    // wedge volume bound O(m^1.5) is what keeps that bucketed join
    // finite at any scale.
    val triStats = wedges.join(broadcast(e), Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val degStats = deg.agg(count(lit(1)).as("n_vertices"),
      sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    val out = keep(degStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(triStats))
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("(3000 * n_triangles) div nullif(n_wedges, 0)").as("clustering_permille")))
    out.count() // materialize the 1-row stats while e is cached
    e.unpersist()
    out
  }

  /** PER-VERTEX LOCAL CLUSTERING COEFFICIENT — the node-level
    * companion to [[triangleStats]]'s global transitivity: cc(v) =
    * 2·tri(v)/(d(v)·(d(v)−1)), the "how club-like is THIS vertex's
    * neighborhood" feature that feeds community detection and
    * link-prediction models. Same degree-ordered oriented wedge pass
    * (each triangle enumerated exactly once at its lowest-degree
    * corner, O(m^1.5) wedges), but the triangle KEEPS its three
    * corners — an inner closure join instead of the semi — and one
    * explode credits each corner. The oracle deliberately uses the
    * UNORIENTED a<b<c three-way self-join (a different enumeration
    * that must agree triangle-for-triangle).
    *
    * Scale shape: [[triangleStats]]'s — broadcast closure probe, no
    * wedge shuffle; the per-vertex rollup is vertex-sized. cc in
    * exact permille (nonnegative division). */
  def localClustering(edges: DataFrame): DataFrame = {
    val e = keep(edges)
    val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val eo = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
    val wedges = eo.as("e1").join(eo.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("w"),
        least(col("e1.dst"), col("e2.dst")).as("u"),
        greatest(col("e1.dst"), col("e2.dst")).as("v"))
    val tri = wedges.join(broadcast(e), Seq("u", "v"))
      .select(explode(array(col("w"), col("u"), col("v"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("triangles"))
    val out = keep(deg.filter(col("d") >= 2)
      .select(col("x").as("vertex"), col("d").as("degree"))
      .join(tri, Seq("vertex"), "left")
      .select(col("vertex"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .selectExpr("vertex", "degree", "triangles",
        "(2000 * triangles) div (degree * (degree - 1)) AS cc_permille")
      .orderBy("vertex"))
    out.count() // materialize while e is cached
    e.unpersist()
    out
  }

  val clusteringCoeff: Q = Q(
    "q_clustering_coeff",
    (s, dir) => localClustering(coEdges(s, dir, "h1")),
    Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
                  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                    AND l_shipdate < TIMESTAMP '1995-07-01'),
      und AS (SELECT DISTINCT a.p AS u, b.p AS v
              FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
              GROUP BY x),
      tris AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM und e1 JOIN und e2 ON e1.v = e2.u
        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
      tv AS (SELECT x, CAST(count(*) AS BIGINT) AS triangles FROM (
               SELECT a AS x FROM tris UNION ALL
               SELECT b AS x FROM tris UNION ALL
               SELECT c AS x FROM tris)
             GROUP BY x)
      SELECT deg.x AS vertex, deg.d AS degree,
             CAST(coalesce(tv.triangles, 0) AS BIGINT) AS triangles,
             CAST((2000 * coalesce(tv.triangles, 0)) // (deg.d * (deg.d - 1))
               AS BIGINT) AS cc_permille
      FROM deg LEFT JOIN tv ON deg.x = tv.x
      WHERE deg.d >= 2
      ORDER BY vertex"""))

  val triangleCount: Q = Q(
    "q_triangle_count",
    (s, dir) => {
      // pinned two-year co-purchase window: the full-history part
      // graph is near-complete (every part pairs with every other
      // eventually — wedge volume 148M at sf0.1 for no analytic
      // gain); a bounded window is how co-purchase graphs are
      // actually built, keeps density realistic (~40k triangles at
      // sf0.1), and the date predicate pushes to the scan
      // canonical undirected edges (u < v by id) from the staged store
      triangleStats(coEdges(s, dir, "2y"))
    },
    Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
                  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                    AND l_shipdate < TIMESTAMP '1997-01-01'),
      e AS (SELECT DISTINCT a.p AS u, b.p AS v
            FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      d AS (SELECT x, CAST(count(*) AS BIGINT) AS dg
            FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY x),
      tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
              FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
                        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
      vs AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices,
                    CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) AS n_wedges FROM d),
      es AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
      SELECT n_vertices, n_edges, n_wedges, n_triangles,
             CAST((3000 * n_triangles) // nullif(n_wedges, 0) AS BIGINT)
               AS clustering_permille
      FROM vs, es, tri"""))

  /** Multi-source BFS hop distances: `iters` rounds of min-plus
    * relaxation (Bellman-Ford restricted to unit weights) from a
    * source vertex set. Returns `(v, dist)` for every vertex REACHED
    * within `iters` hops — integer-exact and engine-independent, so
    * the iterative result takes a full hash oracle (unrolled CTEs,
    * same pattern as [[pageRank]]).
    *
    * Scale shape, per round: ONE shuffle — frontier⋈edges grouped by
    * dst, merged with the standing distances by a vertex-keyed
    * groupBy min. The frontier frame is vertex-sized, never
    * edge-sized; rounds run in a cloned session with vertex-sized
    * parallelism and lazily checkpointed plans (one-round-deep
    * lineage, single final action) exactly like [[pageRank]]. The
    * relaxation carries the WHOLE distance table each round rather
    * than a delta frontier — at unit weights a delta frontier halves
    * traffic, but makes round k's input depend on k−1's materialized
    * diff (an action barrier per round); with lazy checkpoints the
    * full-table form keeps the one-action plan and the per-round
    * shuffle is still vertex-bounded. */
  def bfs(edges: DataFrame, sources: DataFrame, iters: Int): DataFrame = {
    val scope = graft.Checkpoints.Scope(edges.sparkSession)
    val e = graft.Checkpoints.cut(scope.in(edges.select(col("src"), col("dst"))))
    val nV = e.select(col("src")).distinct().count()
    scope.sizeTo(nV)
    var dist = graft.Checkpoints.cut(
      scope.in(sources.select(col("v"))).distinct()
        .select(col("v"), lit(0L).as("dist")),
      eager = false)
    for (_ <- 1 to iters) {
      val relaxed = e.join(dist.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), (col("dist") + 1L).as("dist"))
      dist = graft.Checkpoints.cut(
        dist.unionAll(relaxed).groupBy("v").agg(min(col("dist")).as("dist")),
        eager = false)
    }
    scope.out(dist)
  }

  /** INCREMENTAL bounded BFS — absorb a delta edge batch against the
    * persisted distance table: hop distances under edge ADDITION only
    * ever DECREASE, so (unlike PageRank) no trajectory and no
    * value-compare are needed — the state is the final distance frame
    * and the delta propagates as a shrinking improvement frontier:
    * seed improvements are delta-edge relaxations from stored
    * distances (plus any NEW source vertices the delta introduces),
    * then each round relaxes the frontier's out-edges via a
    * frontier-keyed semi-join against the edge state, keeping only
    * strict improvements within the hop bound. The loop ends when a
    * round improves nothing (≤ iters rounds — each chain step
    * decreases a distance bounded by the horizon). Result is EXACTLY
    * the full bounded BFS on the union graph (new vertices included),
    * pinned in GraphSpec at two-batch depth and re-proven by the
    * driver every round (the declared oracle is the full recompute).
    *
    * `newSources` = vertices the delta makes sources (the source
    * predicate is the caller's; an existing source is already dist-0
    * in state, so callers pass predicate-matching delta endpoints
    * anti-joined against the state). */
  def incrementalBfs(histEdges: DataFrame, deltaEdges: DataFrame,
      newSources: DataFrame, stateDist: DataFrame, iters: Int): DataFrame = {
    val scope = graft.Checkpoints.Scope(deltaEdges.sparkSession)
    val dE = graft.Checkpoints.cut(
      scope.in(deltaEdges.select(col("src"), col("dst"))))
    val hE = graft.Checkpoints.cut(
      scope.in(histEdges.select(col("src"), col("dst"))))
    val state = graft.Checkpoints.cut(
      scope.in(stateDist.select(col("v"), col("dist"))))
    val nV = state.count()
    scope.sizeTo(nV)
    val unionE = hE.unionByName(dE)
    def strictlyBetter(cand: DataFrame, base: DataFrame): DataFrame =
      cand.join(base.withColumnRenamed("dist", "d_cur"), Seq("v"), "left")
        .filter(col("d_cur").isNull || col("dist") < col("d_cur"))
        .select(col("v"), col("dist"))
    // seed: delta-edge relaxations from stored dists + new sources
    val relaxSeed = dE.join(state.withColumnRenamed("v", "src"), "src")
      .select(col("dst").as("v"), (col("dist") + 1L).as("dist"))
      .filter(col("dist") <= iters)
      .groupBy("v").agg(min(col("dist")).as("dist"))
    var better = graft.Checkpoints.cut(strictlyBetter(
      relaxSeed.unionByName(
          scope.in(newSources.select(col("v"), lit(0L).as("dist"))))
        .groupBy("v").agg(min(col("dist")).as("dist")),
      state))
    var frontier = better
    var rounds = 0
    while (rounds <= iters && !frontier.isEmpty) {
      val current = state.unionByName(better)
        .groupBy("v").agg(min(col("dist")).as("dist"))
      val cand = unionE.join(frontier.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), (col("dist") + 1L).as("dist"))
        .filter(col("dist") <= iters)
        .groupBy("v").agg(min(col("dist")).as("dist"))
      frontier = graft.Checkpoints.cut(strictlyBetter(cand, current))
      better = graft.Checkpoints.cut(
        better.unionByName(frontier)
          .groupBy("v").agg(min(col("dist")).as("dist")))
      rounds += 1
    }
    scope.out(
      state.unionByName(better).groupBy("v").agg(min(col("dist")).as("dist")))
  }

  /** Driver-visible incremental BFS: one pair in ~2048 of the
    * co-purchase graph (by key hash) is "today's newly observed
    * co-orders"; edges, the delta batch, and the distance state stage
    * at bootstrap (the warm absorption path reads state and iterates
    * the improvement frontier only). Oracle = the full 4-hop BFS on
    * the union graph — byte-identical to [[shortestPath]]'s since the
    * union IS that graph. */
  val shortestPathIncremental: Q = Q(
    "q_bfs_incremental",
    (s, dir) => {
      val stateDir = graft.Staging.keyed(s, "graft_bfs_state", dir)
      graft.Staging.once(s, s"$stateDir/dist") {
        val und = coEdges(s, dir, "2y")
        val hist = und.filter((col("u") * 131 + col("v")) % 2048 =!= 7)
        val delta = und.filter((col("u") * 131 + col("v")) % 2048 === 7)
        def sym(df: DataFrame): DataFrame =
          df.select(col("u").as("src"), col("v").as("dst"))
            .unionAll(df.select(col("v").as("src"), col("u").as("dst")))
        sym(hist).write.mode("overwrite").parquet(s"$stateDir/edges")
        sym(delta).write.mode("overwrite").parquet(s"$stateDir/delta")
        val eSt = s.read.parquet(s"$stateDir/edges")
        val sources = eSt.select(col("src").as("v")).distinct()
          .filter(col("v") % 100 === 0)
        bfs(eSt, sources, 4).write.mode("overwrite").parquet(s"$stateDir/dist")
      }
      val delta = s.read.parquet(s"$stateDir/delta")
      val state = s.read.parquet(s"$stateDir/dist")
      // sources the delta introduces: predicate-matching endpoints the
      // state has never seen (existing sources are dist-0 in state)
      val newSources = delta.select(col("src").as("v"))
        .unionByName(delta.select(col("dst").as("v"))).distinct()
        .filter(col("v") % 100 === 0)
        .join(state.select("v"), Seq("v"), "left_anti")
      incrementalBfs(s.read.parquet(s"$stateDir/edges"), delta,
          newSources, state, 4)
        .orderBy("v")
    },
    Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
                  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                    AND l_shipdate < TIMESTAMP '1997-01-01'),
      und AS (SELECT DISTINCT a.p AS u, b.p AS v
              FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      e AS (SELECT u AS src, v AS dst FROM und
            UNION ALL
            SELECT v AS src, u AS dst FROM und),
      d0 AS (SELECT DISTINCT src AS v, CAST(0 AS BIGINT) AS dist
             FROM e WHERE src % 100 = 0),
      d1 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d0
               UNION ALL
               SELECT e.dst AS v, d0.dist + 1 AS dist
               FROM e JOIN d0 ON e.src = d0.v) GROUP BY v),
      d2 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d1
               UNION ALL
               SELECT e.dst AS v, d1.dist + 1 AS dist
               FROM e JOIN d1 ON e.src = d1.v) GROUP BY v),
      d3 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d2
               UNION ALL
               SELECT e.dst AS v, d2.dist + 1 AS dist
               FROM e JOIN d2 ON e.src = d2.v) GROUP BY v),
      d4 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d3
               UNION ALL
               SELECT e.dst AS v, d3.dist + 1 AS dist
               FROM e JOIN d3 ON e.src = d3.v) GROUP BY v)
      SELECT v, dist FROM d4 ORDER BY v"""))

  /** Driver query: 4-hop BFS over the two-year co-purchase graph
    * ([[triangleCount]]'s edge window) from the parts ≡0 (mod 100).
    * Emits every part within 4 hops with its hop distance; the hop
    * histogram is the "how connected is the catalog" diagnostic. */
  val shortestPath: Q = Q(
    "q_shortest_path",
    (s, dir) => {
      val und = coEdges(s, dir, "2y")
      val edges = und.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      val sources = edges.select(col("src").as("v")).distinct()
        .filter(col("v") % 100 === 0)
      bfs(edges, sources, 4).orderBy("v")
    },
    Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
                  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                    AND l_shipdate < TIMESTAMP '1997-01-01'),
      und AS (SELECT DISTINCT a.p AS u, b.p AS v
              FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      e AS (SELECT u AS src, v AS dst FROM und
            UNION ALL
            SELECT v AS src, u AS dst FROM und),
      d0 AS (SELECT DISTINCT src AS v, CAST(0 AS BIGINT) AS dist
             FROM e WHERE src % 100 = 0),
      d1 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d0
               UNION ALL
               SELECT e.dst AS v, d0.dist + 1 AS dist
               FROM e JOIN d0 ON e.src = d0.v) GROUP BY v),
      d2 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d1
               UNION ALL
               SELECT e.dst AS v, d1.dist + 1 AS dist
               FROM e JOIN d1 ON e.src = d1.v) GROUP BY v),
      d3 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d2
               UNION ALL
               SELECT e.dst AS v, d2.dist + 1 AS dist
               FROM e JOIN d2 ON e.src = d2.v) GROUP BY v),
      d4 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d3
               UNION ALL
               SELECT e.dst AS v, d3.dist + 1 AS dist
               FROM e JOIN d3 ON e.src = d3.v) GROUP BY v)
      SELECT v, dist FROM d4 ORDER BY v"""))

  /** Synchronous min-label propagation (3 fixed rounds) — the
    * community-seeding primitive next to [[pagerank]] (influence) and
    * [[graft.llm.Dedup.connectedComponents]] (exact components,
    * data-dependent round count): after k rounds every vertex holds
    * the smallest vertex id within k hops, so the label table IS the
    * "who is near whom" sketch at radius k. Fixed rounds keep the
    * whole trajectory hash-oracled (the oracle unrolls the same three
    * rounds as chained CTEs) where a converge-loop would leave the
    * round count data-dependent and unoracleable.
    *
    * Scale shape: the [[pageRank]] iterative discipline — cloned
    * session with vertex-sized parallelism, one dst-keyed shuffle per
    * round against the once-materialized edge frame, lazy lineage
    * cuts so the plan stays one round deep. The label table is
    * vertex-sized; nothing edge²-shaped exists. */
  def labelProp(edges: DataFrame, iters: Int): DataFrame = {
    val scope = graft.Checkpoints.Scope(edges.sparkSession)
    val e = graft.Checkpoints.cut(scope.in(edges.select(col("src"), col("dst"))))
    val verts = graft.Checkpoints.cut(
      e.select(col("src").as("v")).distinct(), eager = false)
    val nV = verts.count()
    if (nV == 0L) return scope.out(verts.select(col("v"), lit(0L).as("label")))
    scope.sizeTo(nV)
    var lab = graft.Checkpoints.cut(
      verts.select(col("v"), col("v").as("label")), eager = false)
    for (_ <- 1 to iters) {
      val nbrMin = e.join(lab.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(min(col("label")).as("nbr"))
      lab = graft.Checkpoints.cut(
        lab.join(nbrMin, Seq("v"), "left")
          .select(col("v"), least(col("label"), coalesce(col("nbr"), col("label")))
            .as("label")),
        eager = false)
    }
    scope.out(lab)
  }

  /** Label-prop TRAJECTORY `(v, iter, label)` for iter = 0..iters —
    * the state surface [[incrementalLabelProp]] compares against,
    * mirroring [[pageRankTrajectory]]. */
  def labelPropTrajectory(edges: DataFrame, iters: Int): DataFrame = {
    val scope = graft.Checkpoints.Scope(edges.sparkSession)
    val e = graft.Checkpoints.cut(scope.in(edges.select(col("src"), col("dst"))))
    val verts = graft.Checkpoints.cut(
      e.select(col("src").as("v")).distinct(), eager = false)
    val nV = verts.count()
    if (nV == 0L) return scope.out(
      verts.select(col("v"), lit(0).as("iter"), lit(0L).as("label")))
    scope.sizeTo(nV)
    var lab = graft.Checkpoints.cut(
      verts.select(col("v"), col("v").as("label")), eager = false)
    val iterates = scala.collection.mutable.ArrayBuffer(lab)
    for (_ <- 1 to iters) {
      val nbrMin = e.join(lab.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(min(col("label")).as("nbr"))
      lab = graft.Checkpoints.cut(
        lab.join(nbrMin, Seq("v"), "left")
          .select(col("v"), least(col("label"), coalesce(col("nbr"), col("label")))
            .as("label")),
        eager = false)
      iterates += lab
    }
    scope.out(iterates.zipWithIndex.map { case (df, i) =>
      df.select(col("v"), lit(i).as("iter"), col("label"))
    }.reduce(_.unionByName(_)))
  }

  /** INCREMENTAL k-round label propagation — the [[incrementalPageRank]]
    * frontier pattern with MIN semantics: label_i(v) is the minimum
    * vertex id within i hops, which under edge ADDITION only ever
    * decreases, so dirty candidates are out-neighbors of the changed
    * set PLUS the changed set itself (a label depends on its OWN
    * previous value, unlike a PageRank contribution), value-compared
    * against the stored trajectory. New vertices are in-domain (no
    * teleport coupling): they enter the trajectory seeded with their
    * own id at every iteration. Exact ≡ the full k-round propagation
    * on the union graph at any batch depth; returns the updated
    * trajectory (next round's state). */
  def incrementalLabelProp(histEdges: DataFrame, deltaEdges: DataFrame,
      histTraj: DataFrame, iters: Int): DataFrame = {
    val scope = graft.Checkpoints.Scope(deltaEdges.sparkSession)
    val dE = graft.Checkpoints.cut(
      scope.in(deltaEdges.select(col("src"), col("dst"))))
    val hE = graft.Checkpoints.cut(
      scope.in(histEdges.select(col("src"), col("dst"))))
    val traj0 = scope.in(histTraj.select(col("v"), col("iter"), col("label")))
    // new vertices: trajectory rows seeded with their own id
    val newVerts = dE.select(col("src").as("v")).distinct()
      .join(traj0.filter(col("iter") === 0).select("v"), Seq("v"), "left_anti")
    val traj = graft.Checkpoints.cut(traj0.unionByName(
      newVerts.select(col("v"),
        explode(sequence(lit(0), lit(iters))).as("iter"),
        col("v").as("label"))))
    def trajAt(i: Int): DataFrame =
      traj.filter(col("iter") === i).select(col("v"), col("label"))
    val nV = traj.filter(col("iter") === 0).count()
    require(nV > 0L, "empty history state")
    scope.sizeTo(nV)
    val unionE = hE.unionByName(dE)
    val fDelta = graft.Checkpoints.cut(dE.select("src").distinct())
    var dirty: Option[DataFrame] = None
    val changed = scala.collection.mutable.Map.empty[Int, DataFrame]
    for (i <- 1 to iters) {
      val seeds = dirty match {
        case None => fDelta
        case Some(d0) => fDelta.unionByName(d0.select(col("v").as("src")))
      }
      // self-carry: a changed label stays a candidate for its own
      // next-round value, alongside its out-neighbors
      val candDst = unionE.join(seeds, Seq("src"), "left_semi").select(col("dst"))
        .unionByName(dirty.map(_.select(col("v").as("dst")))
          .getOrElse(scope.session.emptyDataFrame.select(lit(0L).as("dst")).limit(0)))
      val inE = unionE.join(candDst, Seq("dst"), "left_semi")
      val labPrev = dirty match {
        case None => trajAt(i - 1)
        case Some(d0) =>
          trajAt(i - 1).join(d0.withColumnRenamed("label", "l_chg"), Seq("v"), "left")
            .select(col("v"), coalesce(col("l_chg"), col("label")).as("label"))
      }
      val nbrMin = inE.join(labPrev.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(min(col("label")).as("nbr"))
      val newLab = nbrMin
        .join(labPrev.withColumnRenamed("label", "own"), Seq("v"))
        .select(col("v"), least(col("own"), col("nbr")).as("label"))
      val d1 = graft.Checkpoints.cut(
        newLab.join(trajAt(i).withColumnRenamed("label", "l_old"), Seq("v"))
          .filter(col("label") =!= col("l_old"))
          .select(col("v"), col("label")), eager = false)
      dirty = Some(d1)
      changed(i) = d1
    }
    // clone-bound, literal iter tags — final-iteration consumers prune
    // the other branches; see [[incrementalPageRank]]'s return note
    (0 to iters).map { i =>
      changed.get(i) match {
        case None => trajAt(i).select(col("v"), lit(i).as("iter"), col("label"))
        case Some(d1) =>
          trajAt(i).join(d1.withColumnRenamed("label", "l_new"), Seq("v"), "left")
            .select(col("v"), lit(i).as("iter"),
              coalesce(col("l_new"), col("label")).as("label"))
      }
    }.reduce(_.unionByName(_))
  }

  /** Driver-visible incremental label propagation: same staging
    * convention as [[pagerankIncremental]] (edges + delta + trajectory
    * at bootstrap, warm runs read state only); one customer↔supplier
    * pair in ~2048 is the delta, new vertices allowed (no settled
    * filter — min-label has no teleport coupling). Oracle = the full
    * 3-round propagation over the union graph, which IS
    * [[labelPropagation]]'s graph. */
  val labelPropIncremental: Q = Q(
    "q_label_prop_incremental",
    (s, dir) => {
      val stateDir = graft.Staging.keyed(s, "graft_labelprop_state", dir)
      graft.Staging.once(s, s"$stateDir/traj") {
        val cs = csPairs(s, dir, "all")
        val hist = cs.filter((col("c") * 131 + col("p")) % 2048 =!= 7)
        val delta = cs.filter((col("c") * 131 + col("p")) % 2048 === 7)
        def sym(df: DataFrame): DataFrame =
          df.select((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
            .unionAll(df.select((col("p") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
        sym(hist).write.mode("overwrite").parquet(s"$stateDir/edges")
        sym(delta).write.mode("overwrite").parquet(s"$stateDir/delta")
        labelPropTrajectory(s.read.parquet(s"$stateDir/edges"), 3)
          .write.mode("overwrite").parquet(s"$stateDir/traj")
      }
      incrementalLabelProp(s.read.parquet(s"$stateDir/edges"),
          s.read.parquet(s"$stateDir/delta"),
          s.read.parquet(s"$stateDir/traj"), 3)
        .filter(col("iter") === 3)
        .select(
          when(col("v") % 2 === 0, "customer").otherwise("supplier").as("kind"),
          expr("v div 2").as("id"), col("label"))
        .orderBy("kind", "id")
    },
    Some("""
      WITH cs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS p
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (
        SELECT c * 2 AS src, p * 2 + 1 AS dst FROM cs
        UNION ALL
        SELECT p * 2 + 1 AS src, c * 2 AS dst FROM cs),
      verts AS (SELECT DISTINCT src AS v FROM edges),
      lp0 AS (SELECT v, v AS label FROM verts),
      lp1 AS (SELECT l.v, least(l.label, coalesce(m.nbr, l.label)) AS label
              FROM lp0 l LEFT JOIN (
                SELECT e.dst AS v, min(p.label) AS nbr
                FROM edges e JOIN lp0 p ON p.v = e.src GROUP BY e.dst) m
                ON l.v = m.v),
      lp2 AS (SELECT l.v, least(l.label, coalesce(m.nbr, l.label)) AS label
              FROM lp1 l LEFT JOIN (
                SELECT e.dst AS v, min(p.label) AS nbr
                FROM edges e JOIN lp1 p ON p.v = e.src GROUP BY e.dst) m
                ON l.v = m.v),
      lp3 AS (SELECT l.v, least(l.label, coalesce(m.nbr, l.label)) AS label
              FROM lp2 l LEFT JOIN (
                SELECT e.dst AS v, min(p.label) AS nbr
                FROM edges e JOIN lp2 p ON p.v = e.src GROUP BY e.dst) m
                ON l.v = m.v)
      SELECT CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
             CAST(v // 2 AS BIGINT) AS id, CAST(label AS BIGINT) AS label
      FROM lp3 ORDER BY kind, id"""))

  val labelPropagation: Q = Q(
    "q_label_prop",
    (s, dir) => {
      val cs = csPairs(s, dir, "all")
      val edges = cs.select((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        .unionAll(cs.select((col("p") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
      labelProp(edges, 3).select(
          when(col("v") % 2 === 0, "customer").otherwise("supplier").as("kind"),
          expr("v div 2").as("id"), col("label"))
        .orderBy("kind", "id")
    },
    Some("""
      WITH cs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS p
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (
        SELECT c * 2 AS src, p * 2 + 1 AS dst FROM cs
        UNION ALL
        SELECT p * 2 + 1 AS src, c * 2 AS dst FROM cs),
      verts AS (SELECT DISTINCT src AS v FROM edges),
      lp0 AS (SELECT v, v AS label FROM verts),
      lp1 AS (SELECT l.v, least(l.label, coalesce(m.nbr, l.label)) AS label
              FROM lp0 l LEFT JOIN (
                SELECT e.dst AS v, min(p.label) AS nbr
                FROM edges e JOIN lp0 p ON p.v = e.src GROUP BY e.dst) m
                ON l.v = m.v),
      lp2 AS (SELECT l.v, least(l.label, coalesce(m.nbr, l.label)) AS label
              FROM lp1 l LEFT JOIN (
                SELECT e.dst AS v, min(p.label) AS nbr
                FROM edges e JOIN lp1 p ON p.v = e.src GROUP BY e.dst) m
                ON l.v = m.v),
      lp3 AS (SELECT l.v, least(l.label, coalesce(m.nbr, l.label)) AS label
              FROM lp2 l LEFT JOIN (
                SELECT e.dst AS v, min(p.label) AS nbr
                FROM edges e JOIN lp2 p ON p.v = e.src GROUP BY e.dst) m
                ON l.v = m.v)
      SELECT CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
             CAST(v // 2 AS BIGINT) AS id, CAST(label AS BIGINT) AS label
      FROM lp3 ORDER BY kind, id"""))

  /** Common-neighbor link prediction over the co-purchase graph:
    * score every NON-adjacent part pair by how many parts are
    * adjacent to both ("friend of a friend" recommendation — the
    * classic Liben-Nowell/Kleinberg baseline), and keep the top-20.
    * Existing edges are anti-joined away, so the output is genuinely
    * predicted links, not a restatement of the adjacency.
    *
    * The graph is bounded to a pinned ship-date year — the
    * production framing ("recommend from recent co-purchases") and
    * the scale control in one: wedge enumeration is inherently
    * Σ deg(w)² at each center w, so the feasible-at-100 TB plan
    * bounds the neighborhood (a time window here; a deterministic
    * per-vertex top-d neighbor cap is the general tool) BEFORE the
    * wedge self-join rather than filtering after. Within the window
    * everything is hash joins on vertex keys: edges build from one
    * order-keyed self-join, wedges from one center-keyed self-join,
    * and AQE's skew split handles residual hub centers. Scores are
    * exact integer counts — ranking is float-free. */
  /** Core common-neighbor pass over any canonical undirected edge
    * list (p1 < p2, no duplicates): score all non-adjacent pairs by
    * shared-neighbor count. Factored so tests can feed hand-built
    * graphs. */
  def commonNeighborScores(e: DataFrame): DataFrame = {
    // symmetric neighbor list: every undirected edge in both roles
    val nb = e.select(col("p1").as("ctr"), col("p2").as("nbr"))
      .unionByName(e.select(col("p2").as("ctr"), col("p1").as("nbr")))
    val wedges = nb.as("x").join(nb.as("y"),
        col("x.ctr") === col("y.ctr") && col("x.nbr") < col("y.nbr"))
      .groupBy(col("x.nbr").as("p1"), col("y.nbr").as("p2"))
      .agg(count(lit(1)).as("cn"))
    wedges.join(e, Seq("p1", "p2"), "left_anti")
  }

  val linkPredict: Q = Q(
    "q_link_predict",
    (s, dir) => {
      // y1995 co-purchase edges from the staged pair store (ADVICE
      // r16: this was the store's only declared window without a
      // consumer — the inline rebuild here duplicated the exact
      // BETWEEN-window build plan, inviting silent semantic drift)
      val e = coEdges(s, dir, "y1995")
        .select(col("u").as("p1"), col("v").as("p2"))
      commonNeighborScores(e)
        .orderBy(col("cn").desc, col("p1").asc, col("p2").asc)
        .limit(20)
    },
    Some("""
      WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'),
      e AS (
        SELECT DISTINCT a.p AS p1, b.p AS p2
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
      nb AS (
        SELECT p1 AS ctr, p2 AS nbr FROM e
        UNION ALL SELECT p2 AS ctr, p1 AS nbr FROM e),
      wedges AS (
        SELECT x.nbr AS p1, y.nbr AS p2, CAST(count(*) AS BIGINT) AS cn
        FROM nb x JOIN nb y ON x.ctr = y.ctr AND x.nbr < y.nbr
        GROUP BY x.nbr, y.nbr)
      SELECT w.p1, w.p2, w.cn FROM wedges w
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.p1 = w.p1 AND e.p2 = w.p2)
      ORDER BY w.cn DESC, w.p1 ASC, w.p2 ASC LIMIT 20"""))

  /** INCREMENTAL PageRank — absorb a DELTA EDGE BATCH against the
    * persisted rank trajectory of the settled graph, recomputing only
    * the CHANGE FRONTIER per iteration (the [[graft.llm.Dedup]]
    * incremental pattern applied to an iterative algorithm): the
    * integer pico-rank arithmetic makes "changed" a well-defined
    * bit-equality, so delta+state is EXACTLY the full recompute.
    *
    * Per iteration i the only vertices whose r_i can differ from the
    * stored trajectory are out-neighbors of (a) vertices whose degree
    * the delta changed and (b) vertices whose r_{i-1} changed —
    * recompute those candidates from their FULL in-neighborhood
    * (stored ranks overridden by the previous round's changed set),
    * then VALUE-COMPARE against the stored r_i and carry forward only
    * actual changes. Floor arithmetic absorbs sub-pico perturbations,
    * so the frontier can SHRINK as it propagates — the comparison is
    * what keeps far regions of the graph untouched.
    *
    * PRECONDITION (required, not assumed): every delta endpoint
    * already exists in the settled graph. A new vertex changes N,
    * which renormalizes init and teleport for EVERY vertex — the
    * correct incremental answer IS the full recompute, so this
    * operator refuses rather than silently degrade
    * (vertex-arrival batches run [[pageRankTrajectory]] instead).
    *
    * Cost shape: O(Σᵢ |N(frontierᵢ)| + their in-edges), touched via
    * frontier-keyed semi-joins against the edge state — point lookups
    * on a dst-bucketed edge table at scale, never an edge scan per
    * round. On low-diameter graphs (the bipartite demo below) the
    * frontier saturates in ~2 hops and the win is bounded; on the
    * sparse high-diameter graphs incremental PageRank exists for
    * (web/social deltas), the frontier stays a neighborhood.
    *
    * Inputs: `histEdges` the settled symmetric edge list, `histDeg`
    * its persisted (src, d) degrees, `histTraj` the persisted
    * (v, iter, r) trajectory ([[pageRankTrajectory]]), `deltaEdges`
    * the new symmetric edges (disjoint from history). Returns the
    * UPDATED trajectory — the next round's state; final ranks are
    * `iter = iters`. Delta+state ≡ full is pinned in GraphSpec at
    * two-batch depth and re-proven by the driver every round
    * (q_pagerank_incremental's oracle is the full recompute). */
  def incrementalPageRank(histEdges: DataFrame, deltaEdges: DataFrame,
      histDeg: DataFrame, histTraj: DataFrame, iters: Int): DataFrame = {
    val scope = graft.Checkpoints.Scope(deltaEdges.sparkSession)
    val dE = graft.Checkpoints.cut(
      scope.in(deltaEdges.select(col("src"), col("dst"))))
    // materialize each state surface ONCE: the loop touches edges and
    // degrees every round and the trajectory twice per round — without
    // the cuts each reference would re-run the caller's scan
    val hE = graft.Checkpoints.cut(
      scope.in(histEdges.select(col("src"), col("dst"))))
    val deg0 = graft.Checkpoints.cut(
      scope.in(histDeg.select(col("src"), col("d"))))
    val traj = graft.Checkpoints.cut(
      scope.in(histTraj.select(col("v"), col("iter"), col("r"))))
    def trajAt(i: Int): DataFrame =
      traj.filter(col("iter") === i).select(col("v"), col("r"))
    // settled-vertex precondition: symmetric edges ⇒ endpoints = srcs
    val fDeg = graft.Checkpoints.cut(dE.select("src").distinct())
    val newEnds = fDeg.join(deg0.select("src"), Seq("src"), "left_anti").count()
    require(newEnds == 0L,
      s"incremental PageRank requires a settled vertex set: $newEnds delta " +
        "endpoint(s) unseen in history (a new vertex renormalizes teleport " +
        "for every rank — run the full pageRankTrajectory instead)")
    val nV = deg0.count()
    require(nV > 0L, "empty history state")
    scope.sizeTo(nV)
    val init = 1000000000000L / nV
    val tele = 15L * init / 100L
    val degDelta = dE.groupBy("src").agg(count(lit(1)).as("dd"))
    val deg = graft.Checkpoints.cut(
      deg0.join(degDelta, Seq("src"), "left")
        .select(col("src"),
          (col("d") + coalesce(col("dd"), lit(0L))).as("d")), eager = false)
    val unionE = hE.unionByName(dE)
    var dirty: Option[DataFrame] = None // changed (v, r) at iter i-1
    val changed = scala.collection.mutable.Map.empty[Int, DataFrame]
    for (i <- 1 to iters) {
      // no distinct on seeds: the semi-join below dedups for free
      val seeds = dirty match {
        case None => fDeg
        case Some(d0) => fDeg.unionByName(d0.select(col("v").as("src")))
      }
      // candidates: out-neighbors of the seed set under the UNION
      // edges (new edges originate at degree-changed endpoints, so
      // new-in-edge targets are already covered). No distinct — the
      // semi-join probe and the contrib groupBy both dedup for free.
      val candDst = unionE.join(seeds, Seq("src"), "left_semi").select(col("dst"))
      // full in-neighborhood of the candidates — candidate-keyed
      // semi-join against the edge state, never an edge scan
      val inE = unionE.join(candDst, Seq("dst"), "left_semi")
      // previous-iteration ranks: the stored frame overridden by the
      // last round's changed set. The inner join in `contrib` below
      // already restricts it to inE's sources — a separate semi-join
      // pre-filter added a stage per round without removing any work
      // the contrib join wouldn't do anyway.
      val rPrevEff = dirty match {
        case None => trajAt(i - 1)
        case Some(d0) =>
          trajAt(i - 1).join(d0.withColumnRenamed("r", "r_chg"), Seq("v"), "left")
            .select(col("v"), coalesce(col("r_chg"), col("r")).as("r"))
      }
      val contrib = inE.join(deg, "src")
        .join(rPrevEff.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(sum(expr("r div d")).as("contrib"))
      // contrib's keys ARE the candidate set (every candidate has at
      // least one in-edge) — no separate cand frame to join back
      val rNew = contrib
        .select(col("v"), expr(s"$tele + (85 * contrib) div 100").as("r"))
      val d1 = graft.Checkpoints.cut(
        rNew.join(trajAt(i).withColumnRenamed("r", "r_old"), Seq("v"))
          .filter(col("r") =!= col("r_old"))
          .select(col("v"), col("r")), eager = false)
      dirty = Some(d1)
      changed(i) = d1
    }
    // returned CLONE-BOUND (not rebound through an .rdd hop): the
    // branches carry LITERAL iter tags, so a caller that consumes only
    // the final iteration (the driver query filters iter = iters)
    // lets Catalyst prune the other branches to empty — an .rdd
    // rebind would materialize and Row-convert the WHOLE trajectory
    // first and then filter it. Same SparkContext; callers that need
    // another session's conf rebind themselves.
    (0 to iters).map { i =>
      changed.get(i) match {
        case None => trajAt(i).select(col("v"), lit(i).as("iter"), col("r"))
        case Some(d1) =>
          trajAt(i).join(d1.withColumnRenamed("r", "r_new"), Seq("v"), "left")
            .select(col("v"), lit(i).as("iter"),
              coalesce(col("r_new"), col("r")).as("r"))
      }
    }.reduce(_.unionByName(_))
  }

  /** Driver-visible incremental PageRank over the part k-NN
    * co-purchase graph (each part keeps its top-3 most-co-ordered
    * partners, symmetrized) — SPARSE by construction (undirected
    * degree ≈ 3–15), which is the graph class incremental PageRank
    * exists for: the change frontier grows by a bounded factor per
    * hop instead of saturating through bipartite hubs in two. One
    * pair in ~1024 (by a deterministic key hash, endpoints restricted
    * to the settled graph — the operator's stated domain) is "today's
    * newly discovered relationships". ALL state — edges, the delta
    * batch itself, degrees, trajectory — is staged to parquet on
    * first touch per application+corpus, so repeated executions
    * measure the warm absorption path: state reads + frontier
    * iterations, zero corpus scans (in production the delta arrives
    * as a file; deriving it from the corpus is bootstrap scaffolding,
    * exactly like [[graft.llm.Dedup.incrementalMinhash]]'s band
    * store). The DuckDB oracle is the FULL 5-iteration recompute over
    * the union graph — the driver's hash re-proves delta+state ≡ full
    * every round. */
  val pagerankIncremental: Q = Q(
    "q_pagerank_incremental",
    (s, dir) => {
      val stateDir = graft.Staging.keyed(s, "graft_pagerank_state", dir)
      graft.Staging.once(s, s"$stateDir/deg") {
        // the `p1 ≠ p2` directed pair counts are the canonical store
        // emitted symmetrically: co(x,y) = co(y,x) = the unordered
        // pair's order count, so the union is row-identical to the
        // inline `a.p =!= b.p` self-join it replaces
        val coCanon = coPairs(s, dir, "all")
        val co = coCanon
          .select(col("u").as("x"), col("v").as("y"), col("co").as("cnt"))
          .unionAll(coCanon
            .select(col("v").as("x"), col("u").as("y"), col("co").as("cnt")))
        val wKnn = org.apache.spark.sql.expressions.Window
          .partitionBy("x").orderBy(col("cnt").desc, col("y").asc)
        val knn = co.withColumn("rn", row_number().over(wKnn))
          .filter(col("rn") <= 3).select("x", "y")
        val und = knn.select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")).distinct()
        val hist = und.filter((col("a") * 131 + col("b")) % 2048 =!= 7)
        val hv = hist.select(col("a").as("v"))
          .unionByName(hist.select(col("b").as("v"))).distinct()
        val delta = und.filter((col("a") * 131 + col("b")) % 2048 === 7)
          .join(hv.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
          .join(hv.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        def sym(df: DataFrame): DataFrame =
          df.select(col("a").as("src"), col("b").as("dst"))
            .unionAll(df.select(col("b").as("src"), col("a").as("dst")))
        sym(hist).write.mode("overwrite").parquet(s"$stateDir/edges")
        sym(delta).write.mode("overwrite").parquet(s"$stateDir/delta")
        val eSt = s.read.parquet(s"$stateDir/edges")
        pageRankTrajectory(eSt, 5).write.mode("overwrite").parquet(s"$stateDir/traj")
        eSt.groupBy("src").agg(count(lit(1)).as("d"))
          .write.mode("overwrite").parquet(s"$stateDir/deg")
      }
      incrementalPageRank(s.read.parquet(s"$stateDir/edges"),
          s.read.parquet(s"$stateDir/delta"),
          s.read.parquet(s"$stateDir/deg"), s.read.parquet(s"$stateDir/traj"), 5)
        .filter(col("iter") === 5)
        .select(col("v").as("part_id"), col("r"))
        .orderBy("part_id")
    },
    Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      co AS MATERIALIZED (SELECT a.p AS x, b.p AS y, CAST(count(*) AS BIGINT) AS cnt
             FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
             GROUP BY a.p, b.p),
      knn AS MATERIALIZED (SELECT x, y FROM (
                SELECT x, y, row_number() OVER (PARTITION BY x
                         ORDER BY cnt DESC, y ASC) AS rn
                FROM co) WHERE rn <= 3),
      und AS MATERIALIZED (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM knn),
      hist AS MATERIALIZED (SELECT a, b FROM und WHERE (a * 131 + b) % 2048 <> 7),
      hv AS MATERIALIZED (SELECT a AS v FROM hist UNION SELECT b AS v FROM hist),
      keepd AS MATERIALIZED (SELECT a, b FROM und WHERE (a * 131 + b) % 2048 = 7
                AND a IN (SELECT v FROM hv) AND b IN (SELECT v FROM hv)),
      keep AS MATERIALIZED (SELECT a, b FROM hist UNION ALL SELECT a, b FROM keepd),
      edges AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM keep
        UNION ALL
        SELECT b AS src, a AS dst FROM keep),
      deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
      verts AS MATERIALIZED (SELECT src AS v FROM deg),
      tele AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n,
                      (15 * (1000000000000 // count(*))) // 100 AS t
               FROM verts),
      pr0 AS MATERIALIZED (SELECT v, 1000000000000 // (SELECT n FROM tele) AS r FROM verts),
      pr1 AS MATERIALIZED (SELECT verts.v AS v,
                     (SELECT t FROM tele) + (85 * coalesce(c.contrib, 0)) // 100 AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM edges e JOIN deg d ON e.src = d.src JOIN pr0 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr2 AS MATERIALIZED (SELECT verts.v AS v,
                     (SELECT t FROM tele) + (85 * coalesce(c.contrib, 0)) // 100 AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM edges e JOIN deg d ON e.src = d.src JOIN pr1 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr3 AS MATERIALIZED (SELECT verts.v AS v,
                     (SELECT t FROM tele) + (85 * coalesce(c.contrib, 0)) // 100 AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM edges e JOIN deg d ON e.src = d.src JOIN pr2 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr4 AS MATERIALIZED (SELECT verts.v AS v,
                     (SELECT t FROM tele) + (85 * coalesce(c.contrib, 0)) // 100 AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM edges e JOIN deg d ON e.src = d.src JOIN pr3 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr5 AS MATERIALIZED (SELECT verts.v AS v,
                     (SELECT t FROM tele) + (85 * coalesce(c.contrib, 0)) // 100 AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM edges e JOIN deg d ON e.src = d.src JOIN pr4 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v)
      SELECT v AS part_id, r
      FROM pr5 ORDER BY part_id"""))

  /** Exact k-CORE by iterative peeling over any canonical undirected
    * edge list (u < v): repeatedly drop vertices whose CURRENT degree
    * is < k until fixpoint — the unique maximal subgraph with minimum
    * degree ≥ k (community-core extraction, the densest-region filter
    * a co-purchase graph feeds to recommendation candidates).
    *
    * Each round is one degree aggregate + two key-keyed semi-joins,
    * lineage-cut per round like every iterative operator here; the
    * per-round count() is the convergence probe (peeling is
    * data-dependent, unlike PageRank's fixed horizon — a fixed unroll
    * would either waste rounds or stop early, and "stopped early"
    * here would SILENTLY return a non-core, so non-convergence
    * throws instead). Rounds are bounded by the peeling number of
    * the graph, single digits on bounded-degeneracy co-purchase
    * graphs. */
  def kCore(edges0: DataFrame, k: Int, maxRounds: Int = 32): DataFrame = {
    val scope = graft.Checkpoints.Scope(edges0.sparkSession)
    var e = graft.Checkpoints.cut(scope.in(edges0.select(col("u"), col("v"))))
    var n = e.count()
    var round = 0
    var peeled = n // edges the last round removed
    while (peeled > 0 && round < maxRounds) {
      val deg = e.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("x"))
      val e2 = graft.Checkpoints.cut(
        e.join(keep.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
          .select(col("u"), col("v")))
      val n2 = e2.count()
      peeled = n - n2
      e = e2; n = n2; round += 1
    }
    Audit.check(s"k-core edges peeled in round $round of at most $maxRounds", peeled,
      Audit.atMost(0))
    scope.out(e)
  }

  /** One unrolled peel round, oracle-side: current degrees, the
    * ≥ k survivor set, both-endpoint semi-join. MATERIALIZED so
    * DuckDB never re-inlines the whole peel prefix per reference. */
  private def kcoreRoundCte(r: Int): String = {
    val prev = s"e${r - 1}"
    s"""
      deg$r AS (SELECT x, count(*) AS d FROM (
        SELECT u AS x FROM $prev UNION ALL SELECT v AS x FROM $prev) GROUP BY x),
      kp$r AS (SELECT x FROM deg$r WHERE d >= (SELECT k FROM kv)),
      e$r AS MATERIALIZED (
        SELECT e.u, e.v FROM $prev e
        JOIN kp$r a ON e.u = a.x JOIN kp$r b ON e.v = b.x)"""
  }

  /** Peel-round unroll budget for the q_kcore oracle: 32, matching
    * [[kCore]]'s maxRounds exactly (ADVICE r16 — at 24 there was a
    * silent-divergence window for a peel count in (24, 32]: Spark
    * would converge while the oracle stopped early, surfacing as a
    * bare hash mismatch). A fixed unroll is EXACT once past the
    * fixpoint — extra rounds remove nothing — and the Spark side
    * throws past 32 rounds, so with matched budgets no silent window
    * remains; an exhausted budget on the oracle side additionally
    * emits a poison row (the convergence sentinel in the final
    * SELECT), so it would fail self-diagnosably, not as a bare
    * mismatch. sf0.01 converges in 13 rounds (measured). */
  private val KcoreOracleRounds = 32

  /** Driver-visible k-core (k = exact lower-quartile initial degree)
    * of the pinned-window co-purchase graph: per-vertex within-core
    * degree. HASH-ORACLED (promoted r16): peeling is a monotone
    * fixpoint over integer degrees, so the same fixed-unroll device
    * that oracled q_luby_mis and the BPE family replays it in DuckDB
    * — [[KcoreOracleRounds]] chained MATERIALIZED round CTEs, each
    * one degree aggregate + two semi-joins, with k computed by the
    * identical quartile rule (row_number prefix, max degree). The
    * in-query floor stays armed: every reported degree must be ≥ k on
    * the final subgraph before a row ships; GraphSpec additionally
    * pins the peel against a sequential reference and a
    * planted-clique construction. */
  val kcore: Q = Q(
    "q_kcore",
    (s, dir) => {
      val edges = keep(coEdges(s, dir, "2y"))
      // k = exact 25th-PERCENTILE initial degree: a deterministic pure
      // function of the data that keeps the peel biting at every SF
      // (the windowed co-purchase degree distribution is
      // scale-invariant — median 10 at all three SFs — and the median
      // itself cascades the whole graph to an empty core; the lower
      // quartile removes the sparse third and keeps a genuine core).
      // TakeOrdered top-k, never a global sort.
      val deg0 = edges.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("d"))
      val nV0 = deg0.count()
      val k = deg0.orderBy(col("d"), col("x")).limit((nV0 / 4 + 1).toInt)
        .agg(max(col("d"))).head().getLong(0).toInt
      val core = kCore(edges, k)
      val deg = keep(core.select(explode(array(col("u"), col("v"))).as("vertex"))
        .groupBy("vertex").agg(count(lit(1)).as("core_deg")))
      val mn = deg.agg(min(col("core_deg"))).head()
      if (!mn.isNullAt(0)) Audit.check("k-core min within-core degree", mn.getLong(0),
        Audit.atLeast(k))
      deg.select(col("vertex"), col("core_deg"), lit(k.toLong).as("k"))
        .orderBy("vertex")
    },
    Some(s"""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'),
      e0 AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      deg0 AS MATERIALIZED (
        SELECT x, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT u AS x FROM e0 UNION ALL SELECT v AS x FROM e0) GROUP BY x),
      kv AS MATERIALIZED (
        SELECT max(d) AS k FROM (
          SELECT d, row_number() OVER (ORDER BY d, x) AS rn FROM deg0) t
        WHERE rn <= (SELECT count(*) FROM deg0) // 4 + 1),""" +
      (1 to KcoreOracleRounds).map(kcoreRoundCte).mkString(",") + s"""
      SELECT * FROM (
        SELECT x AS vertex, CAST(count(*) AS BIGINT) AS core_deg,
               (SELECT CAST(k AS BIGINT) FROM kv) AS k
        FROM (SELECT u AS x FROM e$KcoreOracleRounds
              UNION ALL SELECT v AS x FROM e$KcoreOracleRounds)
        GROUP BY x
        UNION ALL
        -- convergence sentinel: if the unroll budget was exhausted
        -- while the peel was still shrinking, emit a poison row so
        -- the mismatch self-diagnoses instead of hashing wrong
        SELECT CAST(-999999 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT)
        WHERE (SELECT count(*) FROM e$KcoreOracleRounds) <>
              (SELECT count(*) FROM e${KcoreOracleRounds - 1}))
      ORDER BY vertex"""))

  /** K-SOURCE SAMPLED BETWEENNESS (Brandes) over a canonical
    * undirected edge list: exact single-source dependency
    * accumulation δ_s(v) = Σ_{w: succ} σ_v/σ_w·(1+δ_s(w)) run for a
    * pinned source set, all sources SIMULTANEOUSLY — every frame
    * carries the source as a key column, so k sources cost the same
    * bounded iteration count as one (the multi-source vectorization
    * every distributed Brandes uses; exact betweenness is k = |V|,
    * sampling is the 100 TB reality). Forward pass: BFS layering
    * with path counts σ (integer-exact — Σ over predecessor layer);
    * backward pass: per-level dependency sweep over the level-(d+1)
    * successor join. Per-round lineage cuts like every iterative
    * operator here. */
  def betweenness(edges0: DataFrame, sources: Seq[Long], maxDepth: Int = 12): DataFrame = {
    val scope = graft.Checkpoints.Scope(edges0.sparkSession)
    val eUD = scope.in(edges0.select(col("u"), col("v")))
    // directed both ways for traversal
    val e = graft.Checkpoints.cut(
      eUD.select(col("u").as("a"), col("v").as("b"))
        .unionByName(eUD.select(col("v").as("a"), col("u").as("b"))))
    // every per-round frame is |sources|×|E|-bounded — size the
    // clone's shuffle width to the actual work instead of the
    // parent's corpus-wide setting (at harness scale 32-partition
    // rounds are pure task-scheduling overhead) OR a fixed literal
    // (which silently under-partitions at 100× scale). Rule: one
    // partition per ~1M (source, directed-edge) work units, floor 8,
    // never above the parent's width; the probe count() is ~free —
    // `e` was just eagerly lineage-cut, so the frame is materialized.
    val m = e.count()
    val parentWidth = graft.Checkpoints.width(scope.origin)
    val width = math.max(8L, math.min(parentWidth.toLong,
      sources.length.toLong * m / 1000000L)).toInt
    scope.partitions(width)
    val srcDf = scope.session.createDataFrame(sources.map(Tuple1(_))).toDF("src")
    var visited = graft.Checkpoints.cut(
      srcDf.select(col("src"), col("src").as("v"), lit(0).as("lvl"),
        lit(1L).as("sigma")))
    var frontier = visited
    var lvl = 0
    var go = true
    while (go && lvl < maxDepth) {
      val nxt = frontier.join(e, col("v") === col("a"))
        .select(col("src"), col("b").as("v"), col("sigma"))
        .join(visited.select(col("src"), col("v")).withColumn("__seen", lit(1)),
          Seq("src", "v"), "left_anti")
        .groupBy("src", "v")
        .agg(sum(col("sigma")).as("sigma"))
        // σ-envelope sentinel: Spark's non-ANSI sum(long) WRAPS on
        // overflow (the DuckDB oracle's HUGEINT→BIGINT cast errors
        // hard), so a degenerate graph whose path counts blow past
        // the envelope must fail loudly HERE, not hash garbage. 2⁴³
        // leaves room for ~2¹⁹ predecessors per vertex before the
        // next level's sum could wrap undetected; real path counts
        // that large mean the graph needs sampling, not a bigger int.
        .withColumn("sigma",
          when(col("sigma") < 0L || col("sigma") > 8796093022208L,
            raise_error(lit(
              "betweenness: sigma overflow — path counts exceed the " +
                "2^43 envelope; sample sources or shrink the window"))
              .cast("long"))
            .otherwise(col("sigma")))
        .withColumn("lvl", lit(lvl + 1))
        .select("src", "v", "lvl", "sigma")
      val nf = graft.Checkpoints.cut(nxt)
      val n = nf.count()
      if (n == 0) go = false
      else {
        frontier = nf
        visited = graft.Checkpoints.cut(visited.unionByName(nf))
        lvl += 1
      }
    }
    // backward accumulation, level by level — LAZY cuts: the plan tree
    // stays one-round deep but nothing materializes until the caller's
    // single action (the eager variant paid a driver barrier per
    // level, pure scheduling at harness scale).
    //
    // INTEGER MICRO-UNIT dependencies (promoted r17): each
    // contribution is floor(σ_v·(10⁶ + δ_w) / σ_w) — an exact
    // integer per joined row, so every grouped sum is an order-free
    // BIGINT fold. The float variant's grouped double sums were
    // order-sensitive in the last ulp, which is exactly what blocked
    // the DuckDB hash oracle; with integer micro-units the whole
    // double fixpoint is engine-reproducible and the oracle unrolls
    // it as level CTEs. The decimal(38,0) intermediate keeps
    // σ_v·(10⁶+δ_w) exact far past BIGINT range (DuckDB mirrors it
    // with HUGEINT); `div` truncates and all operands are
    // non-negative, so both engines floor identically. Floor error
    // per contribution is < 1 µunit — invisible at the published
    // milli resolution (GraphSpec's double-Brandes reference stays
    // within tolerance).
    var delta = graft.Checkpoints.cut(
      visited.select(col("src"), col("v"), lit(0L).as("delta")), eager = false)
    var d = lvl - 1
    while (d >= 0) {
      val lower = visited.filter(col("lvl") === d)
      val upper = visited.filter(col("lvl") === d + 1)
        .join(delta, Seq("src", "v"))
        .select(col("src"), col("v").as("w"), col("sigma").as("sigma_w"),
          col("delta").as("delta_w"))
      val contrib = lower.join(e, col("v") === col("a"))
        .select(col("src"), col("v"), col("sigma"), col("b").as("w"))
        .join(upper, Seq("src", "w"))
        .groupBy("src", "v")
        .agg(sum(expr(
          "cast(sigma as decimal(38,0)) * (1000000 + delta_w) div sigma_w"))
          .as("dd"))
      delta = graft.Checkpoints.cut(
        delta.join(contrib, Seq("src", "v"), "left")
          .select(col("src"), col("v"),
            (col("delta") + coalesce(col("dd"), lit(0L))).as("delta")),
        eager = false)
      d -= 1
    }
    val out = delta.filter(!col("v").isin(sources: _*))
      .groupBy("v")
      .agg(expr("sum(delta) div 1000").as("btw_milli"))
    scope.out(out)
  }

  /** One forward BFS level of the q_betweenness oracle: expand the
    * previous frontier along directed edges, anti-join the visited
    * set, sum path counts per (source, vertex). Mirrors one round of
    * [[betweenness]]'s forward loop exactly. */
  private def btwForwardCte(i: Int): String = s"""
      f$i AS MATERIALIZED (
        SELECT w.src, w.v, CAST(sum(w.sigma) AS BIGINT) AS sigma FROM (
          SELECT f.src, e.b AS v, f.sigma
          FROM f${i - 1} f JOIN be e ON f.v = e.a) w
        WHERE NOT EXISTS (SELECT 1 FROM vis${i - 1} p
                          WHERE p.src = w.src AND p.v = w.v)
        GROUP BY w.src, w.v),
      vis$i AS MATERIALIZED (
        SELECT src, v FROM vis${i - 1} UNION ALL SELECT src, v FROM f$i)"""

  /** One backward dependency level of the q_betweenness oracle:
    * δ(v@d) = Σ_{w: nbr @ d+1} σ_v·(10⁶+δ_w) div σ_w in HUGEINT —
    * the same micro-integer floor-per-contribution arithmetic as the
    * engine's decimal(38,0) pass, so the levels agree bit-exactly.
    * Vertices with no level-(d+1) neighbor keep δ = 0 via the LEFT
    * JOIN, like the engine's coalesce. */
  private def btwBackwardCte(d: Int, top: Int): String =
    if (d == top) s"""
      dl$d AS MATERIALIZED (
        SELECT src, v, sigma, CAST(0 AS BIGINT) AS delta FROM f$d)"""
    else s"""
      dl$d AS MATERIALIZED (
        SELECT l.src, l.v, l.sigma, CAST(coalesce(c.dd, 0) AS BIGINT) AS delta
        FROM f$d l LEFT JOIN (
          SELECT l0.src, l0.v,
                 sum((CAST(l0.sigma AS HUGEINT) * (1000000 + u.delta))
                     // u.sigma) AS dd
          FROM f$d l0 JOIN be e ON l0.v = e.a
          JOIN dl${d + 1} u ON u.src = l0.src AND u.v = e.b
          GROUP BY l0.src, l0.v) c
        ON c.src = l.src AND c.v = l.v)"""

  /** Depth budget for the q_betweenness oracle — must equal
    * [[betweenness]]'s maxDepth (both sides truncate the BFS at the
    * same horizon, so truncation itself can never diverge; levels
    * past the true eccentricity are empty frames on both engines). */
  private val BtwOracleDepth = 12

  /** Driver-visible sampled betweenness: sources = the 4 top-degree
    * hubs of the pinned-window co-purchase graph (deterministic
    * (degree DESC, id) pick). HASH-ORACLED (promoted r17, VERDICT
    * r16 item 3): the float dependency pass blocked the oracle —
    * grouped double sums are order-sensitive in the last ulp — so
    * [[betweenness]] now accumulates INTEGER MICRO-UNIT dependencies
    * (floor per contribution, exact BIGINT folds), and the whole
    * two-pass fixpoint unrolls as level CTEs exactly like the
    * q_kcore peel: [[BtwOracleDepth]] forward BFS levels
    * ([[btwForwardCte]] — frontier expand, visited anti-join, σ
    * sums), then the backward sweep top-down ([[btwBackwardCte]],
    * HUGEINT mirroring the engine's decimal intermediate). Floors
    * stay armed: δ ≥ 0 before any row ships, and GraphSpec pins the
    * pass against a sequential double-Brandes reference (micro-floor
    * error < 1 µunit per contribution, far inside the spec
    * tolerance at milli resolution). */
  val betweennessQ: Q = Q(
    "q_betweenness",
    (s, dir) => {
      // half-year window (vs the 2-year triangle/kcore graph): Brandes
      // pays per-level rounds in BOTH directions, so the demo keeps
      // the same co-purchase semantics on the sparser seasonal slice
      val edges = keep(coEdges(s, dir, "h1"))
      val deg = edges.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("d"))
      val sources = deg.orderBy(col("d").desc, col("x")).limit(4)
        .collect().map(_.getLong(0)).toSeq
      val out = keep(betweenness(edges, sources)
        .orderBy(col("btw_milli").desc, col("v")).limit(50))
      Audit.check("negative dependency scores in the top 50",
        out.filter(col("btw_milli") < 0).count(), Audit.atMost(0))
      edges.unpersist()
      out
    },
    Some(s"""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1995-07-01'),
      und AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      be AS MATERIALIZED (
        SELECT u AS a, v AS b FROM und
        UNION ALL SELECT v AS a, u AS b FROM und),
      deg0 AS (
        SELECT x, count(*) AS d FROM (
          SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
        GROUP BY x),
      srcs AS MATERIALIZED (
        SELECT x AS src FROM deg0 ORDER BY d DESC, x ASC LIMIT 4),
      f0 AS MATERIALIZED (
        SELECT src, src AS v, CAST(1 AS BIGINT) AS sigma FROM srcs),
      vis0 AS MATERIALIZED (SELECT src, v FROM f0),""" +
      (1 to BtwOracleDepth).map(btwForwardCte).mkString(",") + "," +
      (0 to BtwOracleDepth).reverse
        .map(btwBackwardCte(_, BtwOracleDepth)).mkString(",") + s""",
      alld AS (${(0 to BtwOracleDepth)
        .map(d => s"SELECT src, v, delta FROM dl$d")
        .mkString(" UNION ALL ")})
      SELECT v, CAST(sum(delta) // 1000 AS BIGINT) AS btw_milli
      FROM alld WHERE v NOT IN (SELECT src FROM srcs)
      GROUP BY v
      ORDER BY btw_milli DESC, v ASC LIMIT 50"""))

  /** Hop-bounded Bellman–Ford — [[bfs]] generalized to WEIGHTED
    * edges: after k rounds dist(v) = the cheapest cost of any path of
    * ≤ k edges, exactly (the textbook k-round relaxation invariant).
    * Hop-bounding sidesteps negative-cycle divergence structurally
    * (weights here are positive anyway) and keeps the whole
    * trajectory engine-reproducible for the unrolled-CTE oracle.
    *
    * Scale shape identical to [[bfs]]: per round ONE dst-keyed
    * vertex-sized shuffle (frontier⋈edges, min-merge with the
    * standing table), cloned session, lazy lineage cuts. */
  def bellmanFord(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    val scope = graft.Checkpoints.Scope(edges.sparkSession)
    val e = graft.Checkpoints.cut(
      scope.in(edges.select(col("src"), col("dst"), col("w"))))
    val nV = e.select(col("src")).distinct().count()
    scope.sizeTo(nV)
    var dist = graft.Checkpoints.cut(
      scope.in(sources.select(col("v"))).distinct()
        .select(col("v"), lit(0L).as("dist")),
      eager = false)
    for (_ <- 1 to rounds) {
      val relaxed = e.join(dist.withColumnRenamed("v", "src"), "src")
        .select(col("dst").as("v"), (col("dist") + col("w")).as("dist"))
      dist = graft.Checkpoints.cut(
        dist.unionAll(relaxed).groupBy("v").agg(min(col("dist")).as("dist")),
        eager = false)
    }
    scope.out(dist)
  }

  /** Driver query: cheapest 4-hop paths over the co-purchase graph
    * under the similarity→distance transform w = 10⁶ div co_count —
    * strongly co-purchased parts are "close", so the distance table
    * reads "how related is this part to the seed catalog" with path
    * STRENGTH, not just hop reach ([[shortestPath]]'s unit-weight
    * complement; the cheapest path is often NOT the fewest-hop path,
    * pinned in GraphSpec). Seeds = parts ≡ 0 (mod 100). Envelope:
    * dist ≤ 4·10⁶ « 2⁶³. */
  val cheapestPath: Q = Q(
    "q_cheapest_path",
    (s, dir) => {
      val und = coPairs(s, dir, "2y")
        .select(col("u"), col("v"), expr("1000000 div co").as("w"))
      val edges = und.select(col("u").as("src"), col("v").as("dst"), col("w"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst"), col("w")))
      val sources = edges.select(col("src").as("v")).distinct()
        .filter(col("v") % 100 === 0)
      bellmanFord(edges, sources, 4).orderBy("v")
    },
    Some("""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'),
      und AS MATERIALIZED (
        SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS co
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p),
      e AS MATERIALIZED (
        SELECT u AS src, v AS dst, 1000000 // co AS w FROM und
        UNION ALL
        SELECT v AS src, u AS dst, 1000000 // co AS w FROM und),
      d0 AS (SELECT DISTINCT src AS v, CAST(0 AS BIGINT) AS dist
             FROM e WHERE src % 100 = 0),
      d1 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d0 UNION ALL
               SELECT e.dst AS v, d0.dist + e.w FROM e JOIN d0 ON e.src = d0.v)
             GROUP BY v),
      d2 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d1 UNION ALL
               SELECT e.dst AS v, d1.dist + e.w FROM e JOIN d1 ON e.src = d1.v)
             GROUP BY v),
      d3 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d2 UNION ALL
               SELECT e.dst AS v, d2.dist + e.w FROM e JOIN d2 ON e.src = d2.v)
             GROUP BY v),
      d4 AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM d3 UNION ALL
               SELECT e.dst AS v, d3.dist + e.w FROM e JOIN d3 ON e.src = d3.v)
             GROUP BY v)
      SELECT v, dist FROM d4 ORDER BY v"""))

  /** Earliest-arrival TEMPORAL reachability — BFS over a temporal
    * graph where each edge carries an activation time and a valid
    * path must be TIME-RESPECTING (non-decreasing edge times): being
    * connected is not enough, the connection must exist in the right
    * order. arr(v) after k rounds = the earliest time any
    * time-respecting path of ≤ k edges reaches v — the relaxation
    * arr(dst) = min{ t | (src,dst,t) ∈ E, t ≥ arr(src) } is monotone
    * (lowering arr(src) only ever ENABLES more edges), so the k-round
    * table is well-defined and the oracle unrolls it like [[bfs]]
    * with the t ≥ arr guard in the join.
    *
    * Scale shape: identical to [[bfs]] — per round one dst-keyed
    * shuffle of frontier⋈edges (the time guard rides the join
    * condition, pruned before the aggregate), vertex-sized state,
    * cloned session, lazy lineage cuts. */
  def temporalReach(edges: DataFrame, sources: DataFrame,
      rounds: Int): DataFrame = {
    val scope = graft.Checkpoints.Scope(edges.sparkSession)
    val e = graft.Checkpoints.cut(
      scope.in(edges.select(col("src"), col("dst"), col("t"))))
    val nV = e.select(col("src")).distinct().count()
    scope.sizeTo(nV)
    var arr = graft.Checkpoints.cut(
      scope.in(sources.select(col("v"))).distinct()
        .select(col("v"), lit(0L).as("arr")),
      eager = false)
    for (_ <- 1 to rounds) {
      val relaxed = e.join(arr.withColumnRenamed("v", "src"), "src")
        .filter(col("t") >= col("arr"))
        .select(col("dst").as("v"), col("t").as("arr"))
      arr = graft.Checkpoints.cut(
        arr.unionAll(relaxed).groupBy("v").agg(min(col("arr")).as("arr")),
        eager = false)
    }
    scope.out(arr)
  }

  /** Driver query: earliest-arrival spread over the TEMPORAL
    * co-purchase graph — each co-purchase edge activates on its
    * order date (days since 1995-01-01), so arr(v) reads "the
    * earliest day part v could have been reached from the seed
    * catalog by a chain of chronologically consistent co-purchases"
    * (the influence/contagion primitive static reach overstates:
    * a 1996 edge can't forward what arrives in 1997 — pinned in
    * GraphSpec). Seeds = parts ≡ 0 (mod 100) at day 0. */
  val temporalReachQ: Q = Q(
    "q_temporal_reach",
    (s, dir) => {
      val und = temporalEdges(s, dir)
      val edges = und.select(col("u").as("src"), col("v").as("dst"), col("t"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst"), col("t")))
      val sources = edges.select(col("src").as("v")).distinct()
        .filter(col("v") % 100 === 0)
      temporalReach(edges, sources, 4).orderBy("v")
    },
    Some("""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'),
      ord AS (SELECT o_orderkey AS o,
                     CAST(date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS BIGINT) AS t
              FROM orders),
      und AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v, ord.t
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        JOIN ord ON ord.o = a.o),
      e AS MATERIALIZED (
        SELECT u AS src, v AS dst, t FROM und
        UNION ALL
        SELECT v AS src, u AS dst, t FROM und),
      a0 AS (SELECT DISTINCT src AS v, CAST(0 AS BIGINT) AS arr
             FROM e WHERE src % 100 = 0),
      a1 AS (SELECT v, CAST(min(arr) AS BIGINT) AS arr FROM (
               SELECT v, arr FROM a0 UNION ALL
               SELECT e.dst AS v, e.t AS arr
               FROM e JOIN a0 ON e.src = a0.v AND e.t >= a0.arr)
             GROUP BY v),
      a2 AS (SELECT v, CAST(min(arr) AS BIGINT) AS arr FROM (
               SELECT v, arr FROM a1 UNION ALL
               SELECT e.dst AS v, e.t AS arr
               FROM e JOIN a1 ON e.src = a1.v AND e.t >= a1.arr)
             GROUP BY v),
      a3 AS (SELECT v, CAST(min(arr) AS BIGINT) AS arr FROM (
               SELECT v, arr FROM a2 UNION ALL
               SELECT e.dst AS v, e.t AS arr
               FROM e JOIN a2 ON e.src = a2.v AND e.t >= a2.arr)
             GROUP BY v),
      a4 AS (SELECT v, CAST(min(arr) AS BIGINT) AS arr FROM (
               SELECT v, arr FROM a3 UNION ALL
               SELECT e.dst AS v, e.t AS arr
               FROM e JOIN a3 ON e.src = a3.v AND e.t >= a3.arr)
             GROUP BY v)
      SELECT v, arr FROM a4 ORDER BY v"""))

  /** HITS hubs & authorities (Kleinberg) on a DIRECTED edge frame —
    * the mutually-recursive centrality pagerank can't express:
    * authority(v) = Σ hub(u) over in-edges, hub(u) = Σ authority(v)
    * over out-edges, alternated with per-round normalization. Here
    * the graph is the customer→supplier bipartite digraph, so hubs
    * live on customers (breadth of sourcing) and authorities on
    * suppliers (breadth of demand) — the two sides never mix.
    *
    * Integer discipline: scores sum-normalize to 10⁶ micro each
    * round (score·10⁶ div Σ, truncation deterministic both engines),
    * so the whole 2-round trajectory hash-oracles as unrolled CTEs
    * with scalar-subquery totals. Envelope: raw(v) ≤ 10⁶·deg_max,
    * ×10⁶ in the normalize < 2⁶³ through deg_max ~ 10⁶.
    *
    * Scale shape: each half-round is ONE edge⋈score join grouped by
    * the opposite endpoint (vertex-sized shuffle) + a 1-row total
    * broadcast back; 2 rounds = 4 such steps, a fixed shallow plan
    * (no iteration session needed). */
  def hits(edges: DataFrame, rounds: Int): DataFrame = {
    // the pageRank iteration discipline: cloned session with
    // vertex-sized parallelism, a lineage cut after EVERY half-round
    // frame — each normalize references its raw input twice (total +
    // main), so without cuts the plan doubles per half-round (2⁴
    // copies of the edge derivation at rounds = 2; measured 16.7 s →
    // ~3 s at sf0.1)
    val scope = graft.Checkpoints.Scope(edges.sparkSession)
    val e = graft.Checkpoints.cut(
      scope.in(edges.select(col("src"), col("dst"))))
    val nC = e.select(col("src")).distinct().count()
    scope.sizeTo(nC)
    val Scale = 1000000L
    def normalize(raw0: DataFrame, idCol: String, vCol: String): DataFrame = {
      // cut the RAW frame only: it is the one referenced twice (total
      // + main); the normalized result is consumed once by the next
      // half-round, whose own raw cut bounds the re-walk, so a second
      // cut here would only add a checkpoint job per half-round
      val raw = graft.Checkpoints.cut(raw0, eager = false)
      val tot = raw.agg(sum(col(vCol)).as("tot"))
      raw.crossJoin(broadcast(tot))
        .select(col(idCol), expr(s"($vCol * $Scale) div tot").as(vCol))
    }
    var h = graft.Checkpoints.cut(
      e.select(col("src")).distinct()
        .select(col("src"), lit(Scale / math.max(1L, nC)).as("h")),
      eager = false)
    var a: DataFrame = null
    for (_ <- 1 to rounds) {
      a = normalize(
        e.join(h, "src").groupBy("dst").agg(sum(col("h")).as("a")),
        "dst", "a")
      h = normalize(
        e.join(a, "dst").groupBy("src").agg(sum(col("a")).as("h")),
        "src", "h")
    }
    scope.out(
      a.select(lit("authority").as("kind"), col("dst").as("id"),
          col("a").as("score"))
        .unionAll(h.select(lit("hub").as("kind"), col("src").as("id"),
          col("h").as("score"))))
      .orderBy("kind", "id")
  }

  /** Driver query: 2-round HITS over the distinct customer→supplier
    * sourcing digraph ([[pagerank]]'s relation kept DIRECTED instead
    * of symmetrized). */
  val hitsQ: Q = Q(
    "q_hits",
    (s, dir) => {
      val cs = csPairs(s, dir, "all")
        .select(col("c").as("src"), col("p").as("dst"))
      hits(cs, 2)
    },
    Some("""
      WITH e AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      h0 AS (SELECT src, CAST(1000000 // (SELECT count(DISTINCT src) FROM e)
                          AS BIGINT) AS h
             FROM (SELECT DISTINCT src FROM e) c),
      a1r AS (SELECT e.dst, CAST(sum(h0.h) AS BIGINT) AS a
              FROM e JOIN h0 ON h0.src = e.src GROUP BY e.dst),
      a1 AS (SELECT dst, CAST((a * 1000000) // (SELECT sum(a) FROM a1r)
                          AS BIGINT) AS a FROM a1r),
      h1r AS (SELECT e.src, CAST(sum(a1.a) AS BIGINT) AS h
              FROM e JOIN a1 ON a1.dst = e.dst GROUP BY e.src),
      h1 AS (SELECT src, CAST((h * 1000000) // (SELECT sum(h) FROM h1r)
                          AS BIGINT) AS h FROM h1r),
      a2r AS (SELECT e.dst, CAST(sum(h1.h) AS BIGINT) AS a
              FROM e JOIN h1 ON h1.src = e.src GROUP BY e.dst),
      a2 AS (SELECT dst, CAST((a * 1000000) // (SELECT sum(a) FROM a2r)
                          AS BIGINT) AS a FROM a2r),
      h2r AS (SELECT e.src, CAST(sum(a2.a) AS BIGINT) AS h
              FROM e JOIN a2 ON a2.dst = e.dst GROUP BY e.src),
      h2 AS (SELECT src, CAST((h * 1000000) // (SELECT sum(h) FROM h2r)
                          AS BIGINT) AS h FROM h2r)
      SELECT 'authority' AS kind, dst AS id, a AS score FROM a2
      UNION ALL
      SELECT 'hub' AS kind, src AS id, h AS score FROM h2
      ORDER BY kind, id"""))

  /** Truncated TEMPORAL KATZ: count time-respecting WALKS of ≤ 3
    * edges from the seed set to each vertex — the "how much
    * chronologically consistent influence arrives here" weight that
    * [[temporalReachQ]]'s binary earliest-arrival flattens. Walk
    * counting (unlike path counting) has a clean DP over the
    * (vertex, last-edge-time) state: W₁(v,t) = seed out-edges at time
    * t ≥ 0; W_{r+1}(v,t) = Σ over edges (u→v,t) of Σ_{t'≤t} W_r(u,t')
    * — every count an exact BIGINT, so 3 unrolled rounds hash-oracle.
    *
    * Scale shape: each round is ONE src-keyed join of the edge frame
    * against the (vertex,time)-keyed walk frame — the t' ≤ t guard
    * rides the join as a per-vertex filter (both sides co-located by
    * the equality key; the quadratic-in-times blowup is bounded by
    * per-vertex ACTIVITY, and the 100 TB refinement is a per-vertex
    * sorted prefix sum consumed as-of, the [[graft.ops.AsOfJoin]]
    * machinery). Envelope: counts ≤ seeds·deg³ — BIGINT-safe through
    * ~10⁵ average temporal degree. */
  def temporalWalkCounts(edges: DataFrame, sources: DataFrame,
      rounds: Int): DataFrame = seal {
    val e = keep(edges.select(col("src"), col("dst"), col("t")))
    var w = e.join(sources.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
      .filter(col("t") >= 0)
      .groupBy(col("dst").as("v"), col("t")).agg(count(lit(1)).as("w"))
    val layers = scala.collection.mutable.ArrayBuffer(w)
    for (_ <- 2 to rounds) {
      w = e.as("e").join(w.as("p"),
          col("e.src") === col("p.v") && col("p.t") <= col("e.t"))
        .groupBy(col("e.dst").as("v"), col("e.t").as("t"))
        .agg(sum(col("p.w")).as("w"))
      layers += w
    }
    // per-vertex walk counts are data-scaled: sealed — materialized
    // distributed (no driver round-trip) before the edge cache is
    // released; the range sort on the unique key is deterministic at
    // any partition count, so no single-partition funnel is needed
    layers.reduce(_.unionByName(_))
      .groupBy("v").agg(sum(col("w")).as("walks"))
      .orderBy("v")
  }

  /** Driver query: ≤3-edge time-respecting walk counts over the
    * dated co-purchase graph, seeds = parts ≡ 0 (mod 100) available
    * from day 0 (edges dated before the window's epoch are unusable
    * from a seed — same convention as [[temporalReachQ]]). */
  val temporalKatz: Q = Q(
    "q_temporal_katz",
    (s, dir) => {
      val und = temporalEdges(s, dir)
      val edges = und.select(col("u").as("src"), col("v").as("dst"), col("t"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst"), col("t")))
      val sources = edges.select(col("src").as("v")).distinct()
        .filter(col("v") % 100 === 0)
      temporalWalkCounts(edges, sources, 3)
    },
    Some("""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'),
      ord AS (SELECT o_orderkey AS o,
                     CAST(date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS BIGINT) AS t
              FROM orders),
      und AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v, ord.t
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        JOIN ord ON ord.o = a.o),
      e AS MATERIALIZED (
        SELECT u AS src, v AS dst, t FROM und
        UNION ALL
        SELECT v AS src, u AS dst, t FROM und),
      seeds AS (SELECT DISTINCT src AS v FROM e WHERE src % 100 = 0),
      w1 AS (SELECT e.dst AS v, e.t, CAST(count(*) AS BIGINT) AS w
             FROM e JOIN seeds s ON s.v = e.src
             WHERE e.t >= 0 GROUP BY e.dst, e.t),
      w2 AS (SELECT e.dst AS v, e.t, CAST(sum(p.w) AS BIGINT) AS w
             FROM e JOIN w1 p ON e.src = p.v AND p.t <= e.t
             GROUP BY e.dst, e.t),
      w3 AS (SELECT e.dst AS v, e.t, CAST(sum(p.w) AS BIGINT) AS w
             FROM e JOIN w2 p ON e.src = p.v AND p.t <= e.t
             GROUP BY e.dst, e.t)
      SELECT v, CAST(sum(w) AS BIGINT) AS walks FROM (
        SELECT v, w FROM w1
        UNION ALL SELECT v, w FROM w2
        UNION ALL SELECT v, w FROM w3) u
      GROUP BY v ORDER BY v"""))

  /** Motif window: max day-span of a counted triangle occurrence. */
  val MotifDeltaDays = 365

  /** TEMPORAL MOTIF CENSUS — time-ordered triangles over the dated
    * co-purchase graph (the discretized core of Paranjape, Benson &
    * Leskovec, WSDM 2017): a motif INSTANCE is a static triangle
    * {a, b, c} (a < b < c by id) together with one dated occurrence
    * of each of its three edges such that the three dates are
    * pairwise distinct and the whole occurrence spans at most
    * [[MotifDeltaDays]]; its CLASS is the order in which the three
    * structural edges (ab, ac, bc) fire. The 6-class histogram is the
    * dynamics readout static triangle counting can't see: 'ab<ac<bc'
    * (fan-out from the shared low vertex, then closure) and
    * 'ab<bc<ac' (a chain that closes) count the same static triangles
    * but opposite propagation patterns. Composes [[temporalKatz]]'s
    * dated edge frame with [[triangleCount]]'s closure join.
    *
    * Exact-integer by construction (counts of distinct dated-edge
    * triples), so the whole census takes a full hash oracle.
    * Equal-dated pairs are excluded — a tie has no order, and both
    * engines drop it by the same `<>` predicate.
    *
    * Scale shape: the wedge and closure joins are [[triangleCount]]'s
    * (vertex-keyed shuffles, blow-up bounded by temporal degree²,
    * never corpus²), and the δ window prunes INSIDE both joins: span
    * = max − min = the largest pairwise gap, so "span ≤ δ" is exactly
    * "every pairwise |gap| ≤ δ" — the closure join condition already
    * carries the full window, no post-filter pass re-reads the
    * triple. The histogram is a 6-row aggregate. */
  val temporalMotifs: Q = Q(
    "q_temporal_motifs",
    (s, dir) => {
      val e = temporalEdges(s, dir)
      val d = lit(MotifDeltaDays.toLong)
      val tri = e.as("x").join(e.as("y"),
          col("y.u") === col("x.u") && col("y.v") > col("x.v") &&
            abs(col("x.t") - col("y.t")) <= d && col("x.t") =!= col("y.t"))
        .join(e.as("z"),
          col("z.u") === col("x.v") && col("z.v") === col("y.v") &&
            abs(col("z.t") - col("x.t")) <= d &&
            abs(col("z.t") - col("y.t")) <= d &&
            col("z.t") =!= col("x.t") && col("z.t") =!= col("y.t"))
        .select(col("x.t").as("t_ab"), col("y.t").as("t_ac"),
          col("z.t").as("t_bc"))
      tri.select(expr("""CASE
            WHEN t_ab < t_ac AND t_ac < t_bc THEN 'ab<ac<bc'
            WHEN t_ab < t_bc AND t_bc < t_ac THEN 'ab<bc<ac'
            WHEN t_ac < t_ab AND t_ab < t_bc THEN 'ac<ab<bc'
            WHEN t_ac < t_bc AND t_bc < t_ab THEN 'ac<bc<ab'
            WHEN t_bc < t_ab AND t_ab < t_ac THEN 'bc<ab<ac'
            ELSE 'bc<ac<ab' END""").as("motif"))
        .groupBy("motif").agg(count(lit(1)).as("n_instances"))
        .orderBy("motif")
    },
    Some(s"""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'),
      ord AS (SELECT o_orderkey AS o,
                     CAST(date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS BIGINT) AS t
              FROM orders),
      e AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v, ord.t
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        JOIN ord ON ord.o = a.o),
      tri AS (
        SELECT x.t AS t_ab, y.t AS t_ac, z.t AS t_bc
        FROM e x
        JOIN e y ON y.u = x.u AND y.v > x.v
                AND abs(x.t - y.t) <= $MotifDeltaDays AND x.t <> y.t
        JOIN e z ON z.u = x.v AND z.v = y.v
                AND abs(z.t - x.t) <= $MotifDeltaDays
                AND abs(z.t - y.t) <= $MotifDeltaDays
                AND z.t <> x.t AND z.t <> y.t)
      SELECT CASE
               WHEN t_ab < t_ac AND t_ac < t_bc THEN 'ab<ac<bc'
               WHEN t_ab < t_bc AND t_bc < t_ac THEN 'ab<bc<ac'
               WHEN t_ac < t_ab AND t_ab < t_bc THEN 'ac<ab<bc'
               WHEN t_ac < t_bc AND t_bc < t_ab THEN 'ac<bc<ab'
               WHEN t_bc < t_ab AND t_ab < t_ac THEN 'bc<ab<ac'
               ELSE 'bc<ac<ab' END AS motif,
             CAST(count(*) AS BIGINT) AS n_instances
      FROM tri GROUP BY 1 ORDER BY 1"""))

  /** PERSONALIZED PageRank (random walk with restart) — [[pageRank]]
    * with the teleport mass concentrated on ONE seed vertex instead
    * of spread uniformly: pr(v) converges to the stationary
    * visit-rate of a walk that restarts at the seed with probability
    * 0.15 each step, i.e. a SIMILARITY-TO-SEED score (the
    * graph-proximity measure item-item recommenders run), not a
    * global importance. Same integer discipline (10¹² scale, div
    * truncation, 5 unrolled iterations) so the whole trajectory
    * hash-oracles; same cloned-session/lazy-cut iteration shape.
    * The seed id is one bounded driver scalar (min vertex — pinned),
    * like [[bfs]]'s vertex count. */
  def personalizedPageRank(edges: DataFrame, iters: Int): DataFrame = {
    val scope = graft.Checkpoints.Scope(edges.sparkSession)
    val e = graft.Checkpoints.cut(
      scope.in(edges.select(col("src"), col("dst"))))
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val nV = deg.count()
    if (nV == 0L) return emptyRanks(scope.origin)
    scope.sizeTo(nV)
    val seedId = e.agg(min(col("src"))).head().getLong(0)
    val M = 1000000000000L
    val ed = graft.Checkpoints.cut(e.join(deg, "src"), eager = false)
    val verts = graft.Checkpoints.cut(
      deg.select(col("src").as("v")), eager = false)
    var pr = graft.Checkpoints.cut(
      verts.select(col("v"),
        when(col("v") === seedId, M).otherwise(0L).as("r")),
      eager = false)
    for (_ <- 1 to iters) {
      val contrib = ed.join(pr.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(sum(expr("r div d")).as("contrib"))
      pr = graft.Checkpoints.cut(
        verts.join(contrib, Seq("v"), "left")
          .select(col("v"),
            (when(col("v") === seedId, lit(15L * M / 100L)).otherwise(0L) +
              expr("(85 * coalesce(contrib, CAST(0 AS BIGINT))) div 100"))
              .as("r")),
        eager = false)
    }
    scope.out(pr)
  }

  /** Driver query: restart-walk similarity to the minimum part id
    * over the co-purchase graph — every part's score reads "how close
    * is this part to the seed under repeated co-purchase hops". */
  val rwr: Q = Q(
    "q_rwr_similarity",
    (s, dir) => {
      val und = coEdges(s, dir, "2y")
      val edges = und.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      personalizedPageRank(edges, 5).orderBy("v")
    },
    Some("""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'),
      und AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      e AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM und
        UNION ALL
        SELECT v AS src, u AS dst FROM und),
      deg AS MATERIALIZED (
        SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
      verts AS (SELECT src AS v FROM deg),
      s1 AS (SELECT CAST(min(src) AS BIGINT) AS sv FROM e),
      pr0 AS (SELECT v, CAST(CASE WHEN v = (SELECT sv FROM s1)
                         THEN 1000000000000 ELSE 0 END AS BIGINT) AS r
              FROM verts),
      pr1 AS (SELECT verts.v AS v,
                     CAST(CASE WHEN verts.v = (SELECT sv FROM s1)
                          THEN 150000000000 ELSE 0 END
                       + (85 * coalesce(c.contrib, 0)) // 100 AS BIGINT) AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM e JOIN deg d ON e.src = d.src JOIN pr0 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr2 AS (SELECT verts.v AS v,
                     CAST(CASE WHEN verts.v = (SELECT sv FROM s1)
                          THEN 150000000000 ELSE 0 END
                       + (85 * coalesce(c.contrib, 0)) // 100 AS BIGINT) AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM e JOIN deg d ON e.src = d.src JOIN pr1 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr3 AS (SELECT verts.v AS v,
                     CAST(CASE WHEN verts.v = (SELECT sv FROM s1)
                          THEN 150000000000 ELSE 0 END
                       + (85 * coalesce(c.contrib, 0)) // 100 AS BIGINT) AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM e JOIN deg d ON e.src = d.src JOIN pr2 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr4 AS (SELECT verts.v AS v,
                     CAST(CASE WHEN verts.v = (SELECT sv FROM s1)
                          THEN 150000000000 ELSE 0 END
                       + (85 * coalesce(c.contrib, 0)) // 100 AS BIGINT) AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM e JOIN deg d ON e.src = d.src JOIN pr3 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v),
      pr5 AS (SELECT verts.v AS v,
                     CAST(CASE WHEN verts.v = (SELECT sv FROM s1)
                          THEN 150000000000 ELSE 0 END
                       + (85 * coalesce(c.contrib, 0)) // 100 AS BIGINT) AS r
              FROM verts LEFT JOIN (
                SELECT e.dst AS v, CAST(sum(p.r // d.d) AS BIGINT) AS contrib
                FROM e JOIN deg d ON e.src = d.src JOIN pr4 p ON p.v = e.src
                GROUP BY e.dst) c ON verts.v = c.v)
      SELECT v, r FROM pr5 ORDER BY v"""))

  /** Greedy step CTEs for [[greedyMatching]]'s oracle: step i picks
    * the heaviest remaining edge with BOTH endpoints free. */
  private def matchStepCte(i: Int): String = {
    val prev = s"selv${i - 1}"
    s"""p$i AS MATERIALIZED (
        SELECT CAST($i AS BIGINT) AS step, e.s, e.c, e.cents
        FROM short e
        WHERE e.s NOT IN (SELECT s FROM $prev)
          AND e.c NOT IN (SELECT c FROM $prev)
        ORDER BY e.cents DESC, e.s ASC, e.c ASC LIMIT 1),
      selv$i AS MATERIALIZED (SELECT s, c FROM $prev
                 UNION ALL SELECT s, c FROM p$i)"""
  }

  /** GREEDY weighted bipartite matching — assign each supplier to at
    * most one customer (and vice versa) maximizing matched volume,
    * the assignment primitive behind dedupe-style entity pairing and
    * capacity planning. Exact max-weight matching is
    * Hungarian-algorithm territory; the sorted GREEDY is the
    * distributed-friendly standard with a PROVEN 1/2-approximation
    * (each greedy pick blocks at most two optimal edges, neither
    * heavier — pinned against brute force in GraphSpec). The trace
    * is the [[graft.llm.Retrieval]] MMR discipline: a k-bounded
    * shortlist (top-30 edges by exact cents volume via
    * TakeOrdered), a ≤10-step greedy that is driver work by
    * construction, and an oracle that unrolls the same argmax steps —
    * every pick and its volume rides the driver hash.
    *
    * Scale shape: the (supplier, customer) volume aggregate is one
    * corpus-keyed shuffle; the shortlist is TakeOrderedAndProject;
    * the greedy touches 30 collected rows. At full scale the greedy
    * runs over a per-partition shortlist union — same contract, the
    * final ≤2k-row trace still fits one task. */
  val greedyMatching: Q = Q(
    "q_greedy_matching",
    (s, dir) => {
      val vol = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey").as("s"), col("o_custkey").as("c"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents"))
      val short = vol
        .orderBy(col("cents").desc, col("s").asc, col("c").asc)
        .limit(30)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val usedS = scala.collection.mutable.Set.empty[Long]
      val usedC = scala.collection.mutable.Set.empty[Long]
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var step = 1L
      // same total order as the shortlist sort: heaviest first
      short.sortBy { case (sk, ck, w) => (-w, sk, ck) }.foreach {
        case (sk, ck, w) =>
          if (step <= 10 && !usedS(sk) && !usedC(ck)) {
            picks += ((step, sk, ck, w))
            usedS += sk; usedC += ck; step += 1
          }
      }
      s.createDataFrame(picks.toSeq).toDF("step", "s", "c", "cents")
        .orderBy("step")
    },
    Some(s"""
      WITH vol AS (
        SELECT l_suppkey AS s, o_custkey AS c,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS cents
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      short AS MATERIALIZED (
        SELECT s, c, cents FROM vol
        ORDER BY cents DESC, s ASC, c ASC LIMIT 30),
      selv0 AS (SELECT CAST(NULL AS BIGINT) AS s, CAST(NULL AS BIGINT) AS c
                WHERE false),
      ${(1 to 10).map(matchStepCte).mkString(",\n      ")}
      SELECT step, s, c, cents FROM (
        ${(1 to 10).map(i => s"SELECT * FROM p$i").mkString("\n        UNION ALL ")})
      u ORDER BY step"""))

  /** Greedy step CTEs for [[bMatching]]'s oracle: step i picks the
    * heaviest remaining edge whose supplier still has spare capacity
    * (< 2 picks so far) and whose customer is unassigned (< 1) —
    * capacity checks are correlated COUNTs over the materialized
    * selection, the counting generalization of [[matchStepCte]]'s
    * NOT-IN membership test. */
  private def bMatchStepCte(i: Int): String = {
    val prev = s"bsel${i - 1}"
    s"""bp$i AS MATERIALIZED (
        SELECT CAST($i AS BIGINT) AS step, e.s, e.c, e.cents
        FROM short e
        WHERE (SELECT count(*) FROM $prev v WHERE v.s = e.s) < 2
          AND (SELECT count(*) FROM $prev v WHERE v.c = e.c) < 1
        ORDER BY e.cents DESC, e.s ASC, e.c ASC LIMIT 1),
      bsel$i AS MATERIALIZED (SELECT s, c FROM $prev
                 UNION ALL SELECT s, c FROM bp$i)"""
  }

  /** GREEDY weighted bipartite b-MATCHING — the capacity-aware
    * generalization of [[greedyMatching]]: each supplier may serve up
    * to b = 2 customers, each customer gets EXACTLY at most one
    * supplier, picks maximize exact cents volume greedily. This is
    * the generalized-assignment primitive capacity planning actually
    * runs (a warehouse serves several stores; a store has one
    * supplier of record), and sorted greedy keeps the proven
    * 1/2-approximation for b-matching (each pick blocks ≤ 2 optimal
    * edges, neither heavier). Where the 1-matching trace retires a
    * supplier at first use, this trace retires it at CAPACITY — the
    * state is a per-node remaining-capacity counter, not a used-set,
    * and the oracle's step CTEs test correlated COUNTs instead of
    * NOT IN (a genuinely different fixpoint encoding).
    *
    * Scale shape identical to [[greedyMatching]]: one corpus-keyed
    * (supplier, customer) volume aggregate, a TakeOrdered top-30
    * shortlist, a ≤12-step greedy over collected rows (driver work by
    * construction), and an oracle unrolling the same argmax steps. At
    * full scale the shortlist is a per-partition top-k union; the
    * trace itself never touches more than k rows. */
  val bMatching: Q = Q(
    "q_b_matching",
    (s, dir) => {
      val vol = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey").as("s"), col("o_custkey").as("c"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("cents"))
      val short = vol
        .orderBy(col("cents").desc, col("s").asc, col("c").asc)
        .limit(30)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val sLoad = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
      val cLoad = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var step = 1L
      short.sortBy { case (sk, ck, w) => (-w, sk, ck) }.foreach {
        case (sk, ck, w) =>
          if (step <= 12 && sLoad(sk) < 2 && cLoad(ck) < 1) {
            picks += ((step, sk, ck, w))
            sLoad(sk) += 1; cLoad(ck) += 1; step += 1
          }
      }
      s.createDataFrame(picks.toSeq).toDF("step", "s", "c", "cents")
        .orderBy("step")
    },
    Some(s"""
      WITH vol AS (
        SELECT l_suppkey AS s, o_custkey AS c,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS cents
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      short AS MATERIALIZED (
        SELECT s, c, cents FROM vol
        ORDER BY cents DESC, s ASC, c ASC LIMIT 30),
      bsel0 AS (SELECT CAST(NULL AS BIGINT) AS s, CAST(NULL AS BIGINT) AS c
                WHERE false),
      ${(1 to 12).map(bMatchStepCte).mkString(",\n      ")}
      SELECT step, s, c, cents FROM (
        ${(1 to 12).map(i => s"SELECT * FROM bp$i").mkString("\n        UNION ALL ")})
      u ORDER BY step"""))

  /** DEGREE ASSORTATIVITY (Newman's r) over a canonical undirected
    * edge list — Pearson correlation of endpoint degrees across
    * edges, THE one-number answer to "do hubs link to hubs (r > 0)
    * or to leaves (r < 0)", which decides whether degree-based
    * partitioning/salting will face hub-hub super-edges at scale.
    *
    * Exact rational arithmetic over the SYMMETRIZED edge list (each
    * undirected edge contributes both orderings, so Σj = Σk and one
    * pass gives every moment): with M = directed count, S1 = Σ j·k,
    * S2 = Σ j, S3 = Σ j², r = (M·S1 − S2²) / (M·S3 − S2²). Numerator
    * and denominator ship as BIGINTs alongside a milli value; the
    * numerator CAN be negative, so the milli division is written
    * sign-split (negate, divide nonnegative, negate) — both engines
    * then compute the identical quotient regardless of their native
    * negative-division convention (q_croston later MEASURED that
    * DuckDB's `//` truncates like Spark's `div`, so the split is
    * belt-and-braces rather than load-bearing — kept because it makes
    * the contract independent of either engine's convention). A
    * degree-regular graph has zero variance: den = 0 ⇒ r_milli NULL
    * via nullif (both dialects).
    *
    * Scale shape: one degree aggregate (vertex-sized), one
    * edge⋈degree join per endpoint (edge-keyed shuffles), and a
    * 1-row global moment rollup. Nothing quadratic; the basket guard
    * bounds the edge build like every co-purchase query. */
  def assortativity(und: DataFrame): DataFrame = {
    val sym = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
    val deg = sym.groupBy(col("a").as("x")).agg(count(lit(1)).as("d"))
    sym
      .join(deg.select(col("x").as("a"), col("d").as("ja")), "a")
      .join(deg.select(col("x").as("b"), col("d").as("jb")), "b")
      .agg(count(lit(1)).as("m"),
        sum(col("ja") * col("jb")).as("s1"),
        sum(col("ja")).as("s2"),
        sum(col("ja") * col("ja")).as("s3"))
      .select(col("m"),
        (col("m") * col("s1") - col("s2") * col("s2")).as("num"),
        (col("m") * col("s3") - col("s2") * col("s2")).as("den"))
      .selectExpr("m", "num", "den",
        """CASE WHEN num >= 0 THEN (1000 * num) div nullif(den, 0)
                ELSE -((1000 * -num) div nullif(den, 0)) END AS r_milli""")
  }

  /** Driver query: assortativity of the half-year co-purchase graph
    * (the [[betweennessQ]] window — sparse enough to be a real graph,
    * dense enough that degree variance is nonzero). */
  val assortativityQ: Q = Q(
    "q_assortativity",
    (s, dir) => assortativity(coEdges(s, dir, "h1")),
    Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
                  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                    AND l_shipdate < TIMESTAMP '1995-07-01'),
      und AS (SELECT DISTINCT a.p AS u, b.p AS v
              FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      sym AS (SELECT u AS a, v AS b FROM und
              UNION ALL SELECT v AS a, u AS b FROM und),
      deg AS (SELECT a AS x, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY a),
      mom AS (SELECT CAST(count(*) AS BIGINT) AS m,
                     CAST(sum(da.d * db.d) AS BIGINT) AS s1,
                     CAST(sum(da.d) AS BIGINT) AS s2,
                     CAST(sum(da.d * da.d) AS BIGINT) AS s3
              FROM sym JOIN deg da ON sym.a = da.x
                       JOIN deg db ON sym.b = db.x)
      SELECT m,
             CAST(m * s1 - s2 * s2 AS BIGINT) AS num,
             CAST(m * s3 - s2 * s2 AS BIGINT) AS den,
             CAST(CASE WHEN m * s1 - s2 * s2 >= 0
                  THEN (1000 * (m * s1 - s2 * s2)) // nullif(m * s3 - s2 * s2, 0)
                  ELSE -((1000 * -(m * s1 - s2 * s2)) // nullif(m * s3 - s2 * s2, 0))
                  END AS BIGINT) AS r_milli
      FROM mom"""))

  /** One robustness phase: component census of a canonical undirected
    * edge list — (n_vertices, n_edges, largest_cc, n_components) via
    * [[graft.llm.Dedup.connectedComponents]]. */
  def componentCensus(und: DataFrame): DataFrame = {
    val verts = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id"))).distinct()
    val labels = graft.llm.Dedup.connectedComponents(
      und.select(col("u").as("src"), col("v").as("dst")), verts)
    val comp = labels.groupBy("label").agg(count(lit(1)).as("sz"))
    val eCnt = und.agg(count(lit(1)).as("n_edges")).limit(1)
    // coalesce to 0: a SHATTERED graph (hub removal emptied the edge
    // list) must census as (0, 0, 0, 0), not NULL — the robustness
    // monotonicity check reads these as longs (ADVICE r14)
    comp.agg(coalesce(sum(col("sz")), lit(0L)).as("n_vertices"),
        coalesce(max(col("sz")), lit(0L)).as("largest_cc"),
        count(lit(1)).as("n_components"))
      .crossJoin(broadcast(eCnt))
      .select(col("n_vertices"), col("n_edges"), col("largest_cc"),
        col("n_components"))
  }

  /** One unrolled min-label-propagation + pointer-jump round of the
    * robustness oracle's connected components, prefixed so the full
    * and attacked censuses can coexist in one statement. The jump
    * (label ← label(label)) is sound in SQL for the same reason it is
    * in [[graft.llm.Dedup.connectedComponents]]: every label value is
    * a vertex id present in the table, and labels are monotone. */
  private def ccRoundCte(pfx: String, r: Int): String = s"""
      ${pfx}p$r AS MATERIALIZED (
        SELECT v.id, least(v.label, coalesce(m.ml, v.label)) AS label
        FROM ${pfx}l${r - 1} v LEFT JOIN (
          SELECT e.dst AS id, min(l.label) AS ml
          FROM ${pfx}sym e JOIN ${pfx}l${r - 1} l ON e.src = l.id
          GROUP BY e.dst) m ON v.id = m.id),
      ${pfx}l$r AS MATERIALIZED (
        SELECT a.id, b.label FROM ${pfx}p$r a JOIN ${pfx}p$r b ON a.label = b.id)"""

  /** Full unrolled census prefix for one side: symmetric edges, the
    * identity labeling, and [[CcOracleRounds]] propagate+jump rounds
    * over `tbl`(u, v). */
  private def ccCensusCtes(pfx: String, tbl: String): String =
    s"""
      ${pfx}sym AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM $tbl
        UNION ALL SELECT v AS src, u AS dst FROM $tbl),
      ${pfx}l0 AS MATERIALIZED (
        SELECT DISTINCT src AS id, src AS label FROM ${pfx}sym),""" +
      (1 to CcOracleRounds).map(ccRoundCte(pfx, _)).mkString(",") + s""",
      ${pfx}comp AS (
        SELECT label, count(*) AS sz FROM ${pfx}l$CcOracleRounds GROUP BY label),
      ${pfx}conv AS (
        SELECT count(*) AS moved
        FROM ${pfx}l$CcOracleRounds a JOIN ${pfx}l${CcOracleRounds - 1} b
          ON a.id = b.id AND a.label <> b.label)"""

  /** Round unroll budget for the robustness oracle: with pointer
    * jumping the label frontier roughly DOUBLES per materialized
    * round, and the sf0.01 half-year graph fixpoints in 9 (measured),
    * so 16 is multiplicative headroom, not 2× — the same fixed-unroll-
    * past-the-fixpoint exactness argument as [[KcoreOracleRounds]].
    * An exhausted budget (labels still moving in round 16) emits a
    * poison phase row via the `conv` sentinel CTE instead of hashing
    * a wrong census (ADVICE r16). */
  private val CcOracleRounds = 16

  /** GRAPH ROBUSTNESS AUDIT — targeted-attack tolerance (Albert–
    * Jeong–Barabási): remove the top-k hubs and measure how much of
    * the graph stays connected. Scale-free graphs survive random
    * failure but shatter under hub attack; the before/after component
    * census is the one-table answer to "how load-bearing are our
    * hubs". Graph: the half-year co-purchase graph; attack: the
    * top-3 degree hubs (TakeOrdered, never a global sort).
    *
    * HASH-ORACLED (promoted r16): the census only needs component
    * SIZES, and min-label propagation with pointer jumping is a
    * monotone fixpoint over vertex-id labels — so the same
    * fixed-unroll device as [[kcore]] replays BOTH censuses in one
    * DuckDB statement ([[ccCensusCtes]], [[CcOracleRounds]] rounds
    * each, prefixed f/a). Label values may differ from Spark's (both
    * converge to the component-min, so they don't), but only sizes
    * are aggregated. The in-query monotonicity audit stays armed: the
    * attacked phase must not GAIN vertices, edges, or giant-component
    * size — violations throw into the driver's err. GraphSpec pins
    * the census on a planted hub-and-spokes fixture where removing
    * one hub shatters the graph. */
  val graphRobustness: Q = Q(
    "q_graph_robustness",
    (s, dir) => {
      val und = keep(coEdges(s, dir, "h1"))
      val hubs = und.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("x").asc).limit(3)
        .select("x")
      val attacked = und
        .join(broadcast(hubs).withColumnRenamed("x", "u"), Seq("u"), "left_anti")
        .join(broadcast(hubs).withColumnRenamed("x", "v"), Seq("v"), "left_anti")
        .select("u", "v")
      // materialize the shared edge cache, then run the two CC
      // fixpoints CONCURRENTLY: each census loop is round-barrier
      // scheduling-bound (the cluster is idle between rounds), the
      // two graphs are independent, and Spark's scheduler interleaves
      // jobs from two driver threads — wall-clock approaches
      // max(census) instead of sum(census). Results are per-graph
      // deterministic, so the union is order-independent.
      und.count()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fullF = Future(
        componentCensus(und).withColumn("phase", lit("1_full")))
      val afterF = Future(
        componentCensus(attacked).withColumn("phase", lit("2_attacked")))
      val full = Await.result(fullF, Duration.Inf)
      val after = Await.result(afterF, Duration.Inf)
      val out = keep(full.unionAll(after)
        .select("phase", "n_vertices", "n_edges", "largest_cc", "n_components")
        .orderBy("phase"))
      val rows = out.collect() // 2-row audit table (bounded by construction)
      und.unpersist()
      def phase(p: String) = {
        val r = rows.find(_.getString(0) == p)
        Audit.check(s"robustness census rows of phase $p", r.size, Audit.atLeast(1))
        r.get
      }
      val f = phase("1_full")
      val a = phase("2_attacked")
      Seq("n_vertices", "n_edges", "largest_cc").zip(1 to 3).foreach { case (c, i) =>
        Audit.check(s"robustness attacked $c (bound: the full graph's)", a.getLong(i),
          Audit.atMost(f.getLong(i)))
      }
      out
    },
    Some(s"""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1995-07-01'),
      und AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      hubs AS MATERIALIZED (
        SELECT x FROM (
          SELECT x, count(*) AS d FROM (
            SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und)
          GROUP BY x)
        ORDER BY d DESC, x ASC LIMIT 3),
      att AS MATERIALIZED (
        SELECT u, v FROM und
        WHERE u NOT IN (SELECT x FROM hubs)
          AND v NOT IN (SELECT x FROM hubs)),""" +
      ccCensusCtes("f", "und") + "," + ccCensusCtes("a", "att") + s"""
      SELECT * FROM (
        SELECT '1_full' AS phase,
               CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_vertices,
               (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
               CAST(coalesce(max(sz), 0) AS BIGINT) AS largest_cc,
               CAST(count(*) AS BIGINT) AS n_components
        FROM fcomp
        UNION ALL
        SELECT '2_attacked' AS phase,
               CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_vertices,
               (SELECT CAST(count(*) AS BIGINT) FROM att) AS n_edges,
               CAST(coalesce(max(sz), 0) AS BIGINT) AS largest_cc,
               CAST(count(*) AS BIGINT) AS n_components
        FROM acomp
        UNION ALL
        -- convergence sentinels: labels still moving in the final
        -- unrolled round means the budget was exhausted — emit a
        -- poison phase so the failure self-diagnoses (ADVICE r16)
        SELECT '9_unconverged_full', CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
        WHERE (SELECT moved FROM fconv) <> 0
        UNION ALL
        SELECT '9_unconverged_attacked', CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
        WHERE (SELECT moved FROM aconv) <> 0)
      ORDER BY phase"""))

  /** DIAMETER LOWER BOUND via the double sweep (Magnien–Latapy–Habib):
    * BFS from a pinned start u, then BFS again from the farthest
    * vertex the first sweep found — the second eccentricity is a
    * lower bound on the graph diameter that is tight or near-tight on
    * real-world graphs (exact on trees), at the price of TWO BFS runs
    * instead of the O(n) all-pairs sweeps an exact diameter needs.
    * Both sweeps are hop-BOUNDED (H = 6): every reported distance is
    * a true shortest-path length, so max(dist) remains a valid lower
    * bound even when the bound truncates the sweep (then ecc = H
    * reads "diameter ≥ H", the honest capped claim).
    *
    * Everything is frame-to-frame — the start vertex is a 1-row
    * AGGREGATE frame (min vertex id: pinned, engine-independent), the
    * second source is the first sweep's `ORDER BY dist DESC, v ASC
    * LIMIT 1` (deterministic tiebreak), so NO driver-side collect
    * seeds either sweep and the plan keeps provable maxRows = 1 on
    * every condition-less join (the [[graft.llm.Events.abTest]]
    * limit-1 discipline the registry sweep demands).
    *
    * Scale shape: 2 × [[bfs]] (per round: one dst-keyed vertex-sized
    * shuffle in a cloned checkpointed session); the assembly joins
    * are three broadcast 1-row frames per sweep. Only the start
    * vertex's component is explored — on a disconnected graph the
    * bound is for that component, stated in the column name contract
    * (`reached` counts the explored ball). Cites the same co-purchase
    * window as [[shortestPath]] (reference behavior:
    * lambda_function.py builds one relation and filters it; graph
    * analytics are an extension surface). */
  /** Core double sweep over an undirected (already doubled) edge
    * frame: start at the min vertex id, BFS (hop-bounded), re-BFS
    * from the farthest vertex found; 2 rows (sweep, source, farthest,
    * ecc, reached). Sweep-2 ecc is the diameter lower bound. */
  def doubleSweep(edges0: DataFrame, hops: Int = 6): DataFrame = {
    val s = edges0.sparkSession
    val edges = keep(edges0.select(col("src"), col("dst")))
    def sweep(sources: DataFrame, n: Long): (DataFrame, DataFrame) = {
      val d = bfs(edges, sources, hops)
      val far = d.orderBy(col("dist").desc, col("v").asc).limit(1)
      val row = sources.select(col("v").as("source")).limit(1)
        .crossJoin(broadcast(far.select(col("v").as("farthest"),
          col("dist").as("ecc")).limit(1)))
        .crossJoin(broadcast(d.agg(count(lit(1)).as("reached"))))
        .select(lit(n).as("sweep"), col("source"), col("farthest"),
          col("ecc"), col("reached"))
      (row, far)
    }
    val u = edges.agg(min(col("src")).as("v"))
    val (r1, far1) = sweep(u, 1L)
    val (r2, _) = sweep(far1.select(col("v")), 2L)
    val out = r1.unionAll(r2).orderBy("sweep")
    val materialized = out.collect()
    edges.unpersist()
    s.createDataFrame(s.sparkContext.parallelize(
        materialized.toIndexedSeq, 1), out.schema)
      .orderBy("sweep")
  }

  val diameterLb: Q = Q(
    "q_diameter_lb",
    (s, dir) => {
      val und = coEdges(s, dir, "2y")
      doubleSweep(und.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst"))))
    },
    Some("""
      WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'),
      und AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      e AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM und
        UNION ALL
        SELECT v AS src, u AS dst FROM und),
      s1 AS MATERIALIZED (SELECT CAST(min(src) AS BIGINT) AS v FROM e),
      a0 AS MATERIALIZED (SELECT v, CAST(0 AS BIGINT) AS dist FROM s1),
      a1 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM a0 UNION ALL
               SELECT e.dst AS v, a0.dist + 1 FROM e JOIN a0 ON e.src = a0.v)
             GROUP BY v),
      a2 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM a1 UNION ALL
               SELECT e.dst AS v, a1.dist + 1 FROM e JOIN a1 ON e.src = a1.v)
             GROUP BY v),
      a3 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM a2 UNION ALL
               SELECT e.dst AS v, a2.dist + 1 FROM e JOIN a2 ON e.src = a2.v)
             GROUP BY v),
      a4 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM a3 UNION ALL
               SELECT e.dst AS v, a3.dist + 1 FROM e JOIN a3 ON e.src = a3.v)
             GROUP BY v),
      a5 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM a4 UNION ALL
               SELECT e.dst AS v, a4.dist + 1 FROM e JOIN a4 ON e.src = a4.v)
             GROUP BY v),
      a6 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM a5 UNION ALL
               SELECT e.dst AS v, a5.dist + 1 FROM e JOIN a5 ON e.src = a5.v)
             GROUP BY v),
      f1 AS MATERIALIZED (SELECT v, dist FROM a6 ORDER BY dist DESC, v ASC LIMIT 1),
      b0 AS MATERIALIZED (SELECT v, CAST(0 AS BIGINT) AS dist FROM f1),
      b1 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM b0 UNION ALL
               SELECT e.dst AS v, b0.dist + 1 FROM e JOIN b0 ON e.src = b0.v)
             GROUP BY v),
      b2 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM b1 UNION ALL
               SELECT e.dst AS v, b1.dist + 1 FROM e JOIN b1 ON e.src = b1.v)
             GROUP BY v),
      b3 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM b2 UNION ALL
               SELECT e.dst AS v, b2.dist + 1 FROM e JOIN b2 ON e.src = b2.v)
             GROUP BY v),
      b4 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM b3 UNION ALL
               SELECT e.dst AS v, b3.dist + 1 FROM e JOIN b3 ON e.src = b3.v)
             GROUP BY v),
      b5 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM b4 UNION ALL
               SELECT e.dst AS v, b4.dist + 1 FROM e JOIN b4 ON e.src = b4.v)
             GROUP BY v),
      b6 AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT v, dist FROM b5 UNION ALL
               SELECT e.dst AS v, b5.dist + 1 FROM e JOIN b5 ON e.src = b5.v)
             GROUP BY v),
      f2 AS MATERIALIZED (SELECT v, dist FROM b6 ORDER BY dist DESC, v ASC LIMIT 1),
      r1 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS sweep, s1.v AS source,
                    f1.v AS farthest, f1.dist AS ecc,
                    (SELECT CAST(count(*) AS BIGINT) FROM a6) AS reached
             FROM s1 CROSS JOIN f1),
      r2 AS MATERIALIZED (SELECT CAST(2 AS BIGINT) AS sweep, f1.v AS source,
                    f2.v AS farthest, f2.dist AS ecc,
                    (SELECT CAST(count(*) AS BIGINT) FROM b6) AS reached
             FROM f1 CROSS JOIN f2)
      SELECT * FROM r1 UNION ALL SELECT * FROM r2 ORDER BY sweep"""))

  /** Exact integer modularity rollup of a community assignment over
    * a DIRECTED-DOUBLED edge list (each undirected edge present in
    * both directions, the repo's graph convention). Per community c:
    * Newman's Q_c = din_c/(2m) − (D_c/(2m))², surfaced as the exact
    * BIGINT numerator q_num = din_c·2m − D_c² over the common
    * denominator (2m)² — no float ever, so the hash pins every
    * community's contribution. din counts directed rows with both
    * endpoints inside c (= 2·undirected-in-edges); D_c sums degrees.
    * Envelope: q_num·1000 needs 2m ≲ 3·10⁶ doubled edges — past
    * that surface the ratio in double (documented trade, like
    * [[graft.llm.Drift]]'s PSI numerators). */
  def modularityOf(edges: DataFrame, lab: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val m2f = edges.agg(count(lit(1)).as("m2"))
    val la = lab.select(col("v").as("src"), col("label"))
    val lb = lab.select(col("v").as("dst"), col("label").as("label_b"))
    val din = edges.join(la, "src").join(lb, "dst")
      .filter(col("label") === col("label_b"))
      .groupBy("label").agg(count(lit(1)).as("din"))
    lab.join(deg, "v")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vertices"), sum(col("deg")).as("dsum"))
      .join(din, Seq("label"), "left")
      .crossJoin(broadcast(m2f))
      .select(col("label"), col("n_vertices"),
        coalesce(col("din"), lit(0L)).as("din"), col("dsum"),
        (coalesce(col("din"), lit(0L)) * col("m2") - col("dsum") * col("dsum"))
          .as("q_num"),
        expr("""(coalesce(din, 0) * m2 - dsum * dsum) * 1000
                div (m2 * m2)""").as("q_permille"))
      .orderBy("label")
  }

  /** COMMUNITY QUALITY audit — exact Newman modularity of the
    * 3-round min-label communities ([[labelProp]]) on a one-month
    * customer–supplier graph, the "did the community detector find
    * real structure" number a pipeline checks before acting on the
    * partition (Q > 0 ⇔ denser inside than a random degree-preserving
    * rewiring). The pinned ship-month window is semantic, not a
    * sample: the full-history bipartite graph is so dense that
    * min-label floods to ONE community (measured: 1 label over 1600
    * vertices at sf0.01) and every modularity is trivially 0 — the
    * windowed graph (45 communities at sf0.01) is the graph a
    * "communities this month" product question actually asks about,
    * and the same windowing is [[linkPredict]]'s scale control.
    * Fully hash-oracled: the oracle re-runs the identical 3-round
    * min-label CTE chain, then states the same integer numerators;
    * Spark `div` and DuckDB `//` both truncate toward zero, so even
    * negative contributions agree exactly.
    *
    * Scale shape: label prop is the audited iterative pattern; the
    * modularity rollup adds two vertex-keyed joins (label onto the
    * edge endpoints), one edge-keyed count, and label-domain
    * aggregates — no new corpus-shaped stage, nothing edge². */
  val modularityQ: Q = Q(
    "q_modularity",
    (s, dir) => {
      val cs = csPairs(s, dir, "m1")
      val edges = cs.select((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        .unionAll(cs.select((col("p") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
      // labelProp checkpoints its own lineage; the rollup re-derives
      // the (small, windowed) edge frame rather than pinning a cache
      // the harness would have to evict
      modularityOf(edges, labelProp(edges, 3))
    },
    Some("""
      WITH cs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS p
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate < DATE '1995-02-01'),
      edges AS MATERIALIZED (
        SELECT c * 2 AS src, p * 2 + 1 AS dst FROM cs
        UNION ALL
        SELECT p * 2 + 1 AS src, c * 2 AS dst FROM cs),
      verts AS (SELECT DISTINCT src AS v FROM edges),
      lp0 AS (SELECT v, v AS label FROM verts),
      lp1 AS MATERIALIZED (
              SELECT l.v, least(l.label, coalesce(m.nbr, l.label)) AS label
              FROM lp0 l LEFT JOIN (
                SELECT e.dst AS v, min(p.label) AS nbr
                FROM edges e JOIN lp0 p ON p.v = e.src GROUP BY e.dst) m
                ON l.v = m.v),
      lp2 AS MATERIALIZED (
              SELECT l.v, least(l.label, coalesce(m.nbr, l.label)) AS label
              FROM lp1 l LEFT JOIN (
                SELECT e.dst AS v, min(p.label) AS nbr
                FROM edges e JOIN lp1 p ON p.v = e.src GROUP BY e.dst) m
                ON l.v = m.v),
      lp3 AS MATERIALIZED (
              SELECT l.v, least(l.label, coalesce(m.nbr, l.label)) AS label
              FROM lp2 l LEFT JOIN (
                SELECT e.dst AS v, min(p.label) AS nbr
                FROM edges e JOIN lp2 p ON p.v = e.src GROUP BY e.dst) m
                ON l.v = m.v),
      deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
              FROM edges GROUP BY src),
      mm AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM edges),
      din AS (SELECT la.label, CAST(count(*) AS BIGINT) AS din
              FROM edges e
              JOIN lp3 la ON la.v = e.src
              JOIN lp3 lb ON lb.v = e.dst
              WHERE la.label = lb.label
              GROUP BY la.label),
      comm AS (SELECT l.label, CAST(count(*) AS BIGINT) AS n_vertices,
                      CAST(sum(d.deg) AS BIGINT) AS dsum
               FROM lp3 l JOIN deg d ON d.v = l.v GROUP BY l.label)
      SELECT c.label, c.n_vertices,
             CAST(coalesce(n.din, 0) AS BIGINT) AS din, c.dsum,
             CAST(coalesce(n.din, 0) * m2 - c.dsum * c.dsum AS BIGINT) AS q_num,
             CAST((coalesce(n.din, 0) * m2 - c.dsum * c.dsum) * 1000
               // (m2 * m2) AS BIGINT) AS q_permille
      FROM comm c LEFT JOIN din n ON n.label = c.label CROSS JOIN mm
      ORDER BY c.label"""))

  /** Luby's maximal independent set over a symmetric edge list,
    * derandomized: round-r coin(v) = the 48-bit md5 uniform of
    * "r:v" (fresh independent coins every round — what Luby's
    * O(log n) bound needs — yet a pure function of (round, vertex),
    * so the run replays exactly). Per round, an ACTIVE vertex joins
    * the MIS iff its coin is strictly below every active neighbor's
    * coin (isolated actives join unconditionally); the winners and
    * their neighbors leave the active set. Fixed `rounds` unrolled —
    * the oracle states the same chain — with non-convergence THROWN
    * by the caller (a half-built "maximal" set must not ship).
    * Returns (v, in_mis, round_joined) — round 0 for non-members.
    *
    * Scale shape: the [[labelProp]] iterative discipline (cloned
    * session, vertex-sized parallelism, lazy lineage cuts); each
    * round is two semi-joins (active-edge restriction), one dst-keyed
    * min, and one anti-join — all vertex/edge-keyed hash joins,
    * nothing quadratic. Luby's theorem gives O(log n) expected
    * rounds, so the unroll depth is a small constant at any scale. */
  def lubyMis(edges: DataFrame, rounds: Int): DataFrame = {
    val scope = graft.Checkpoints.Scope(edges.sparkSession)
    val e = graft.Checkpoints.cut(scope.in(edges.select(col("src"), col("dst"))))
    val verts = graft.Checkpoints.cut(
      e.select(col("src").as("v")).distinct(), eager = false)
    val nV = verts.count()
    scope.sizeTo(nV)
    def coin(r: Int): org.apache.spark.sql.Column =
      conv(substring(md5(concat(lit(r.toString), lit(":"),
        col("v").cast("string")).cast("binary")), 1, 12), 16, 10).cast("long")
    var active = graft.Checkpoints.cut(verts, eager = false)
    var mis = verts.select(col("v"), lit(0L).as("round_joined")).limit(0)
    for (r <- 1 to rounds) {
      val actC = active.select(col("v"), coin(r).as("c"))
      val actEdges = e
        .join(active.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(active.select(col("v").as("dst")), Seq("dst"), "left_semi")
      val nbrMin = actEdges
        .join(actC.select(col("v").as("src"), col("c").as("cs")), "src")
        .groupBy(col("dst").as("v")).agg(min(col("cs")).as("nbc"))
      val cand = actC.join(nbrMin, Seq("v"), "left")
        .filter(col("nbc").isNull || col("c") < col("nbc"))
        .select(col("v"))
      mis = graft.Checkpoints.cut(
        mis.unionByName(cand.select(col("v"), lit(r.toLong).as("round_joined"))),
        eager = false)
      val removed = cand
        .unionByName(e.join(cand.withColumnRenamed("v", "src"), "src")
          .select(col("dst").as("v")))
      active = graft.Checkpoints.cut(
        active.join(removed, Seq("v"), "left_anti"), eager = false)
    }
    val out = verts
      .join(mis, Seq("v"), "left")
      .select(col("v"),
        when(col("round_joined").isNotNull, 1L).otherwise(0L).as("in_mis"),
        coalesce(col("round_joined"), lit(0L)).as("round_joined"))
    scope.out(out.join(active.select(col("v"), lit(1L).as("still_active")),
      Seq("v"), "left"))
  }

  val MisRounds = 8

  /** Luby MIS on the one-month customer–supplier graph (the
    * [[modularityQ]] window), fully hash-oracled: the oracle unrolls
    * the same [[MisRounds]] coin/min/cand/remove rounds as chained
    * MATERIALIZED CTEs. In-query audits (all THROW): the active set
    * must be empty after the unroll (convergence), no edge may
    * connect two MIS members (independence), and every non-member
    * must have a MIS neighbor (maximality) — the three properties
    * that make an "independent set" usable for conflict-free
    * scheduling and landmark selection. */
  val lubyMisQ: Q = Q(
    "q_luby_mis",
    (s, dir) => seal {
      val cs = csPairs(s, dir, "m1")
      val edges = cs.select((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        .unionAll(cs.select((col("p") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
      val raw = keep(lubyMis(edges, MisRounds))
      Audit.check(s"Luby MIS vertices still active after $MisRounds rounds",
        raw.filter(col("still_active") === 1L).count(), Audit.equal(0))
      val out = raw.select("v", "in_mis", "round_joined")
      val m = out.filter(col("in_mis") === 1L).select(col("v"))
      Audit.check("MIS edges with both ends inside", edges
        .join(m.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .join(m.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi").count(), Audit.equal(0))
      Audit.check("MIS-excluded vertices with no MIS neighbor", out.filter(col("in_mis") === 0L)
        .join(edges.join(m.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
          .select(col("src").as("v")), Seq("v"), "left_anti").count(), Audit.equal(0))
      // sealed: materialized distributed (vertex-linear output — no
      // driver hop), then the iterate cache is released; the range
      // sort on the unique vertex key is deterministic at any
      // partition count
      out.orderBy("v")
    },
    Some(s"""
      WITH cs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS p
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate < DATE '1995-02-01'),
      edges AS MATERIALIZED (
        SELECT c * 2 AS src, p * 2 + 1 AS dst FROM cs
        UNION ALL
        SELECT p * 2 + 1 AS src, c * 2 AS dst FROM cs),
      verts AS (SELECT DISTINCT src AS v FROM edges),
      act0 AS (SELECT v FROM verts),
      ${(1 to MisRounds).map(misRoundCte).mkString(",\n      ")},
      mis AS MATERIALIZED (
        ${(1 to MisRounds).map(r =>
          s"SELECT v, CAST($r AS BIGINT) AS round_joined FROM cand$r")
          .mkString("\n        UNION ALL ")})
      SELECT t.v,
             CASE WHEN m.v IS NULL THEN CAST(0 AS BIGINT)
                  ELSE CAST(1 AS BIGINT) END AS in_mis,
             coalesce(m.round_joined, CAST(0 AS BIGINT)) AS round_joined
      FROM verts t LEFT JOIN mis m ON m.v = t.v
      ORDER BY t.v"""))

  /** One unrolled Luby round (coins → active-neighbor min → winners →
    * shrunken active set), oracle-only. */
  private def misRoundCte(r: Int): String = s"""
      coin$r AS MATERIALIZED (
        SELECT v, CAST('0x' || substr(md5('$r:' || CAST(v AS VARCHAR)), 1, 12)
                       AS BIGINT) AS c
        FROM act${r - 1}),
      nbm$r AS MATERIALIZED (
        SELECT e.dst AS v, min(c.c) AS nbc
        FROM edges e
        JOIN coin$r c ON c.v = e.src
        JOIN act${r - 1} a ON a.v = e.dst
        GROUP BY e.dst),
      cand$r AS MATERIALIZED (
        SELECT c.v FROM coin$r c LEFT JOIN nbm$r n ON n.v = c.v
        WHERE n.nbc IS NULL OR c.c < n.nbc),
      act$r AS MATERIALIZED (
        SELECT a.v FROM act${r - 1} a
        WHERE a.v NOT IN (SELECT v FROM cand$r)
          AND a.v NOT IN (SELECT e.dst FROM edges e
                          JOIN cand$r w ON w.v = e.src))"""

  val all: Seq[Q] = Seq(pagerank, pagerankIncremental, copurchase, triangleCount,
    shortestPath, shortestPathIncremental, labelPropagation,
    labelPropIncremental, linkPredict, kcore, betweennessQ, diameterLb,
    cheapestPath, temporalReachQ, hitsQ, temporalKatz, temporalMotifs,
    rwr, greedyMatching,
    bMatching, modularityQ, lubyMisQ, assortativityQ, clusteringCoeff,
    graphRobustness)
}
