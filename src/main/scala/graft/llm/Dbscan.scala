package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.{keep, scoped}

/** Density-based clustering (DBSCAN) over the embedding corpus —
  * the clustering complement of the near-dup family: near-dup keeps
  * ONE representative per tight component; DBSCAN names EVERY dense
  * region (core points), attaches its fringe (border points), and
  * calls the rest noise. The classic sequential algorithm expands
  * clusters seed-by-seed; the distributed reformulation used here is
  * the standard one (MR-DBSCAN lineage): DBSCAN's cluster structure
  * is fully determined by the ε-neighbor graph, so
  *
  *   1. candidate ε-pairs by LEARNED blocking (the SemDeDup coarse
  *      quantizer — [[Similarity.clusterNearDupPairs]], with its
  *      skew-thinning guard),
  *   2. degree count → core flag (|N_ε(p)| ≥ minPts, self included),
  *   3. clusters = connected components of the core-core subgraph
  *      ([[Dedup.connectedComponents]] min-label propagation),
  *   4. border points adopt the MIN core-neighbor label (the
  *      sequential algorithm's border assignment is arrival-order-
  *      dependent; min-label is the deterministic pin).
  *
  * Blocking makes the neighbor graph approximate (a cross-block
  * ε-pair can be missed), hence rows-only by contract — but the
  * planted floor is structural: exact copies share their source's
  * centroid argmin, so the planted dense blob can never be split by
  * the blocking, only by a real regression.
  *
  * Scale shape: pair generation is the audited cluster-blocked join
  * (quadratic only within capped blocks); degree/core are one
  * pair-keyed aggregate; CC runs on the CORE subgraph only (dense
  * regions, small diameter — CC's best case); border assignment is
  * one semi-join + one anti-join + a min aggregate. Nothing is ever
  * corpus². Reference: lambda_function.py has no clustering surface;
  * this is north-star extension territory (training-data curation:
  * topic islands + outlier mining from one pass).
  */
object Dbscan {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** ε-pair degrees from a canonical (vec_a < vec_b) pair list — the
    * per-point neighbor counts DBSCAN's core test reads, exposed so
    * the incremental path can maintain them additively. */
  def pairDegrees(pairs: DataFrame): DataFrame =
    pairs.select(col("vec_a").as("id"))
      .unionAll(pairs.select(col("vec_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** Core DBSCAN given points (vec_id) and the candidate ε-pair list
    * (vec_a < vec_b, already sim-filtered). Returns one row per point:
    * (id, cluster, role) with role ∈ core/border/noise and cluster =
    * min vertex id of the component (NULL for noise). */
  def dbscanFromPairs(points: DataFrame, pairs: DataFrame, minPts: Int): DataFrame =
    dbscanFromDegrees(points, pairs, pairDegrees(pairs), minPts)

  /** [[dbscanFromPairs]] with an externally supplied degree frame —
    * the incremental entry point (state degrees + delta contributions
    * instead of a recount). The degree frame MUST equal
    * [[pairDegrees]] of `pairs` for DBSCAN semantics to hold; the
    * incremental query asserts exactly that in-query. */
  def dbscanFromDegrees(points: DataFrame, pairs: DataFrame,
      degrees: DataFrame, minPts: Int): DataFrame = {
    val p = keep(pairs.select(col("vec_a"), col("vec_b")))
    val sym = p.select(col("vec_a").as("id"), col("vec_b").as("nb"))
      .unionAll(p.select(col("vec_b").as("id"), col("vec_a").as("nb")))
    val core = keep(degrees.filter(col("deg") + lit(1) >= minPts).select("id"))
    val coreEdges = p
      .join(core.select(col("id").as("vec_a")), Seq("vec_a"), "left_semi")
      .join(core.select(col("id").as("vec_b")), Seq("vec_b"), "left_semi")
    val comp = Dedup.connectedComponents(
      coreEdges.select(col("vec_a").as("src"), col("vec_b").as("dst")),
      core)
    // border: not core itself, adjacent to ≥1 core; min core label
    val border = sym
      .join(core, Seq("id"), "left_anti")
      .join(comp.select(col("id").as("nb"), col("label").as("cluster")),
        Seq("nb"))
      .groupBy("id").agg(min(col("cluster")).as("cluster"))
    val coreOut = comp.select(col("id"), col("label").as("cluster"),
      lit("core").as("role"))
    val borderOut = border.select(col("id"), col("cluster"),
      lit("border").as("role"))
    val noise = points.select(col("vec_id").as("id"))
      .join(coreOut.select("id").unionAll(borderOut.select("id")),
        Seq("id"), "left_anti")
      .select(col("id"), lit(null).cast("long").as("cluster"),
        lit("noise").as("role"))
    coreOut.unionByName(borderOut).unionByName(noise)
  }

  /** Driver query: ε via cosine ≥ 0.95, minPts = 10, over embeddings
    * plus a planted 12-copy blob of vector 0 at ids 2M+ — identical
    * vectors give the blob pairwise sim 1.0 and a shared centroid
    * argmin, so blob recovery (all 12 core, ONE cluster) is
    * structural and asserted in-query (rows-only floor discipline).
    * Emits the per-cluster census (n_core, n_border) plus the noise
    * row (cluster NULL). */
  val dbscan: Q = Q(
    "q_dbscan",
    (s, dir) => scoped {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val proto = emb.filter(col("vec_id") === 0).select(col("v")).limit(1)
      val plants = s.range(12)
        .select((col("id") + lit(2000000L)).as("vec_id"))
        .crossJoin(broadcast(proto))
      val corpus = keep(emb.unionByName(plants))
      val centroids = Ivf.trainCentroidsMemo(s"$dir#dbscan", corpus)
      // the shared 0.90 store filtered to this query's ε — identical
      // rows to a direct 0.95 compute (thinning is size-only)
      val pairs = Similarity.pairStoreMemo(s, s"$dir#dbscan90", 0.90,
        corpus, centroids).filter(col("sim") >= 0.95)
      val perPoint = dbscanFromPairs(corpus, pairs, minPts = 10)
      // ONE census pass carries the structural floor (every planted id
      // core, all in ONE cluster) alongside the output columns — the
      // previous persist + audit pass + census pass re-ran the whole
      // per-point pipeline shape three times for a cluster-domain
      // result; the floor values derive exactly from the planted
      // per-cluster tallies (countDistinct over planted rows ≡ number
      // of non-null census rows holding a planted member)
      censusWithBlobFloor(s, perPoint, minPlanted = 12)
    },
    None)

  /** Per-cluster census of a (id, cluster, role) frame with the
    * planted-blob floor fused into the SAME aggregate: one pass, one
    * collect. Asserts ≥ `minPlanted` planted ids (id ≥ 2e6) are core
    * and that exactly ONE cluster holds planted members, then returns
    * the (cluster, n_core, n_border, n_noise) census ordered by
    * cluster — byte-identical to the previous two-action audit+census
    * (the audit's countDistinct ignored NULL clusters; here noise
    * rows land on the census's NULL row, which the floor count skips). */
  private def censusWithBlobFloor(s: SparkSession, perPoint: DataFrame,
      minPlanted: Int): DataFrame = {
    val census = perPoint.groupBy("cluster")
      .agg(count(when(col("role") === "core", 1)).as("n_core"),
        count(when(col("role") === "border", 1)).as("n_border"),
        count(when(col("role") === "noise", 1)).as("n_noise"),
        count(when(col("id") >= 2000000L && col("role") === "core", 1))
          .as("n_planted_core"),
        count(when(col("id") >= 2000000L, 1)).as("n_planted"))
      .orderBy(asc_nulls_first("cluster"))
    val materialized = census.collect()
    val nCore = materialized.map(_.getLong(4)).sum
    val nClusters = materialized.count(r => !r.isNullAt(0) && r.getLong(5) > 0)
    Audit.check("planted DBSCAN blob core points", nCore, Audit.atLeast(minPlanted))
    Audit.check("planted DBSCAN blob clusters", nClusters, Audit.equal(1))
    val out = materialized.map(r => org.apache.spark.sql.Row(
      if (r.isNullAt(0)) null else r.getLong(0),
      r.getLong(1), r.getLong(2), r.getLong(3)))
    val schema = org.apache.spark.sql.types.StructType(
      census.schema.fields.take(4))
    s.createDataFrame(s.sparkContext.parallelize(out.toIndexedSeq, 1), schema)
      .orderBy(asc_nulls_first("cluster"))
  }

  /** Canonical ε-pairs among a block-ASSIGNED frame (vec_id, v,
    * block): within-block quadratic join, sim-filtered — the
    * [[Similarity.clusterNearDupPairs]] core WITHOUT the skew-thinning
    * guard, because the incremental contract (state pairs + delta
    * pairs ≡ full pairs under FROZEN assignment) requires a pair
    * policy that is a pure function of the assigned frame; a
    * size-dependent thinning would make history epochs and the union
    * corpus disagree about which pairs exist. Callers own bounding
    * block sizes (here: trained blocks over near-uniform embeddings).
    * `left` restricts the left side (the delta) — pass the full frame
    * for a from-scratch build. */
  def pairsAmongAssigned(left: DataFrame, all: DataFrame,
      minSim: Double): DataFrame =
    left.select(col("block"), col("vec_id").as("vec_l"), col("v").as("vl"))
      .join(all.select(col("block"), col("vec_id").as("vec_r"),
        col("v").as("vr")), Seq("block"))
      .filter(col("vec_l") =!= col("vec_r"))
      .filter(Similarity.cosine(col("vl"), col("vr")) >= minSim)
      .select(least(col("vec_l"), col("vec_r")).as("vec_a"),
        greatest(col("vec_l"), col("vec_r")).as("vec_b"))
      .distinct()

  /** INCREMENTAL DBSCAN — absorb an embedding delta batch against
    * persisted state, the [[Dedup.deltaMinhashPairsWithStore]]
    * pattern applied to density clustering. State (staged parquet at
    * bootstrap) = the history's block ASSIGNMENT (the verification
    * payload: delta×history pairing needs history vectors), its
    * canonical ε-PAIR list, and its DEGREE table. A delta batch then
    * costs: one delta-side blocked join (delta × (history ∪ delta) —
    * the quadratic piece is DELTA-sized, never corpus²), an additive
    * degree merge (state + delta-pair contributions: degrees only
    * grow under insertion, DBSCAN's insertion monotonicity), and the
    * graph phase over the pair-domain store (core set grows,
    * components only merge; CC re-runs over the PAIR STORE because a
    * merge cascade is non-local — pair-domain work, not corpus work).
    *
    * The centroid inventory is FROZEN at bootstrap (production
    * freezes the quantizer; retraining shifts every block boundary),
    * which is what makes incremental ≡ full EXACT. The in-query
    * defense is the maintained-degree proof (the degree table
    * full-outer-matches a recount over the state∪delta pair set —
    * pair-domain cost) plus the planted-blob structural floor; the
    * heavier pair-store ≡ from-scratch-blocked-join equivalence is
    * replayed in DbscanSpec at two-batch depth instead of in-query
    * (the q_bitemporal_incremental precedent, SURVEY §8 r15: paying
    * the full quadratic recompute inside the DECLARED incremental
    * query made "incremental" a wall-clock lie — the proof belongs
    * to the spec, the floor to the query). Rows-only by contract
    * (trained centroids aren't SQL-expressible). */
  val dbscanIncremental: Q = Q(
    "q_dbscan_incremental",
    (s, dir) => scoped {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cut = graft.Staging.historyCut(emb, "vec_id")
      val hist = emb.filter(col("vec_id") <= cut)
      val proto = emb.filter(col("vec_id") === 0).select(col("v")).limit(1)
      val plants = s.range(12)
        .select((col("id") + lit(2000000L)).as("vec_id"))
        .crossJoin(broadcast(proto))
      val delta = emb.filter(col("vec_id") > cut).unionByName(plants)
      val centroids = Ivf.trainCentroidsMemo(s"$dir#dbscan_inc", hist)
      val stateDir = graft.Staging.keyed(s, "graft_dbscan_state", dir)
      graft.Staging.once(s, s"$stateDir/pairs") {
        val histA = hist.withColumn("block",
          Ivf.clusterOf(col("v"), centroids))
        histA.write.mode("overwrite").parquet(s"$stateDir/assign")
        val histPairs = keep(pairsAmongAssigned(histA, histA, 0.95))
        pairDegrees(histPairs).write.mode("overwrite")
          .parquet(s"$stateDir/deg")
        histPairs.write.mode("overwrite").parquet(s"$stateDir/pairs")
        histPairs.unpersist()
      }
      val histA = s.read.parquet(s"$stateDir/assign")
      val statePairs = s.read.parquet(s"$stateDir/pairs")
      val stateDeg = s.read.parquet(s"$stateDir/deg")
      val deltaA = keep(delta.withColumn("block", Ivf.clusterOf(col("v"), centroids)))
      // single consumer (the blocked join's right side): a persist
      // here only added a cache write+read around one pass
      val allA = histA.unionByName(deltaA)
      // the delta-sided blocked join: every new pair touches >= 1
      // delta point, so state pairs (hist-hist) and delta pairs
      // partition the union pair set
      val deltaPairs = keep(pairsAmongAssigned(deltaA, allA, 0.95))
      val allPairs = statePairs.unionByName(deltaPairs)
      // consumed twice (the maintained-degree proof AND the core
      // test); pair-domain — cache the merge instead of re-shuffling
      // the state+delta degree union per consumer
      val incrDeg = keep(stateDeg
        .unionByName(pairDegrees(deltaPairs))
        .groupBy("id").agg(sum(col("deg")).as("deg")))
      // in-query proof 1: maintained degrees == from-scratch recount
      val degMismatch = incrDeg
        .join(pairDegrees(allPairs).withColumnRenamed("deg", "deg_full"),
          Seq("id"), "full_outer")
        .filter(col("deg").isNull || col("deg_full").isNull ||
          col("deg") =!= col("deg_full")).count()
      Audit.check("incremental degree table ids diverging from a recount", degMismatch,
        Audit.equal(0))
      val points = hist.unionByName(delta)
      val perPoint = dbscanFromDegrees(points, allPairs, incrDeg, minPts = 10)
      // fused census + planted floor — one pass, one collect (see
      // [[censusWithBlobFloor]]); the separate persist/audit/census
      // actions re-ran the per-point pipeline three times
      censusWithBlobFloor(s, perPoint, minPlanted = 12)
    },
    None)

  /** HDBSCAN-style CLUSTER STABILITY — how the density landscape
    * fragments as ε tightens, computed hierarchically the way HDBSCAN
    * reads its condensed tree: the ε-pair list is built ONCE at the
    * loosest level WITH its similarity kept, and each tighter level
    * is a pure sim-threshold FILTER of that one list (never a second
    * quadratic pass) — and the per-level runs are STACKED into one
    * disjoint graph ([[levelDbscan]]) so the iterative CC loop runs
    * once for all levels. For every BASE
    * cluster (loosest level, label = min core id) the query emits,
    * per level: how many of its core points stay core
    * (`n_still_core`), how many fragments they split into
    * (`n_fragments` — 0 when the cluster dissolves entirely), and the
    * integer-permille persistence — the HDBSCAN stability signal that
    * separates a genuine dense island (persists across levels) from a
    * threshold artifact (shatters immediately).
    *
    * Rows-only by the same contract as [[dbscan]] (trained-centroid
    * blocking is not SQL-expressible), with the planted-blob floor
    * enforced at EVERY level in-query: the 12 identical copies have
    * pairwise sim exactly 1.0, so they must be core and mono-cluster
    * at all thresholds — a blob split at any level is a real
    * regression, not blocking noise.
    *
    * Scale shape: one blocked quadratic join (the audited
    * [[Similarity.clusterNearDupPairs]] with its skew cap), one
    * persisted level-exploded pair list, ONE degree aggregate and ONE
    * core-subgraph CC across all levels (dense regions, CC's best
    * case), and a label-domain rollup. Adding a level costs one more
    * explode branch — never another corpus pass or CC loop. */
  val Levels = Seq(900, 950, 980)

  /** ALL levels' DBSCAN in ONE pass — the level-stacked
    * reformulation: each ε-pair is exploded to the levels whose
    * threshold it survives, per-(level, point) degrees and core flags
    * come from one aggregate, and the per-level core-core subgraphs
    * are stacked into a single DISJOINT graph (vertex key =
    * id·1000 + level — levels are 3-digit permilles and ids stay
    * < 9·10¹⁵) so [[Dedup.connectedComponents]]'s iterative driver
    * loop runs ONCE for every level instead of once per level (the
    * round count becomes max-over-levels, the per-round work the sum
    * — the fixed per-iteration scheduling cost is paid once). Labels
    * decode back per level because min(id·1000+lvl) over a
    * same-level component = (min id)·1000 + lvl. Returns
    * (lvl, id, cluster, role) — role ∈ core/border/noise, cluster
    * NULL for noise — semantically identical per level to
    * [[dbscanFromPairs]] on the filtered pair list (DbscanSpec pins
    * the equivalence). */
  def levelDbscan(points: DataFrame, pairs: DataFrame, levels: Seq[Int],
      minPts: Int): DataFrame = {
    val lvls = array(levels.map(lit): _*)
    val pairsL = keep(pairs.withColumn("lvl",
        explode(filter(lvls, l => col("sim") >= l.cast("double") / 1000)))
      .select(col("lvl"), col("vec_a"), col("vec_b")))
    val sym = pairsL.select(col("lvl"), col("vec_a").as("id"), col("vec_b").as("nb"))
      .unionAll(pairsL.select(col("lvl"), col("vec_b").as("id"), col("vec_a").as("nb")))
    val core = keep(sym.groupBy("lvl", "id").agg(count(lit(1)).as("deg"))
      .filter(col("deg") + lit(1) >= minPts).select("lvl", "id"))
    val coreEdges = pairsL
      .join(core.select(col("lvl"), col("id").as("vec_a")),
        Seq("lvl", "vec_a"), "left_semi")
      .join(core.select(col("lvl"), col("id").as("vec_b")),
        Seq("lvl", "vec_b"), "left_semi")
    val comp = Dedup.connectedComponents(
      coreEdges.select((col("vec_a") * 1000 + col("lvl")).as("src"),
        (col("vec_b") * 1000 + col("lvl")).as("dst")),
      core.select((col("id") * 1000 + col("lvl")).as("id")))
    val coreLab = comp.select((col("id") % 1000).cast("int").as("lvl"),
      expr("id div 1000").as("id"), expr("label div 1000").as("cluster"))
    val border = sym
      .join(core, Seq("lvl", "id"), "left_anti")
      .join(coreLab.select(col("lvl"), col("id").as("nb"),
        col("cluster")), Seq("lvl", "nb"))
      .groupBy("lvl", "id").agg(min(col("cluster")).as("cluster"))
    val coreOut = coreLab.select(col("lvl"), col("id"), col("cluster"),
      lit("core").as("role"))
    val borderOut = border.select(col("lvl"), col("id"), col("cluster"),
      lit("border").as("role"))
    val assigned = coreOut.select("lvl", "id").unionAll(borderOut.select("lvl", "id"))
    val noise = points.select(col("vec_id").as("id"), explode(lvls).as("lvl"))
      .join(assigned, Seq("lvl", "id"), "left_anti")
      .select(col("lvl"), col("id"), lit(null).cast("long").as("cluster"),
        lit("noise").as("role"))
    coreOut.unionByName(borderOut).unionByName(noise)
  }

  /** Per-(base cluster, level) persistence census over per-level
    * DBSCAN outputs (id, cluster, role): base = the FIRST level's
    * cores; each level reports how many base cores stay core, how
    * many fragments they split into, and integer-permille
    * persistence. Factored so DbscanSpec can drive it with
    * hand-built pair lists. */
  def stabilityRollup(perLevel: Seq[(Int, DataFrame)]): DataFrame = {
    // one level-tagged core frame, ONE (id)-keyed join of the base
    // against every level's cores, one aggregate — not a join per
    // level (3× the fixed stage cost for identical results)
    val lvlCore = perLevel.map { case (lp, pp) =>
      pp.filter(col("role") === "core")
        .select(lit(lp.toLong).as("level_permille"), col("id"),
          col("cluster").as("lvl_cluster"))
    }.reduce(_ unionByName _)
    val levels = perLevel.map(_._1)
    val base = perLevel.head._2.filter(col("role") === "core")
      .select(col("id"), col("cluster").as("base_cluster"),
        explode(array(levels.map(l => lit(l.toLong)): _*))
          .as("level_permille"))
    base.join(lvlCore, Seq("level_permille", "id"), "left")
      .groupBy("level_permille", "base_cluster")
      .agg(count(lit(1)).as("n_base_core"),
        count(col("lvl_cluster")).as("n_still_core"),
        countDistinct(col("lvl_cluster")).as("n_fragments"))
      .select(col("level_permille"), col("base_cluster"),
        col("n_base_core"), col("n_still_core"), col("n_fragments"),
        expr("n_still_core * 1000 div n_base_core").as("persist_permille"))
      .orderBy("base_cluster", "level_permille")
  }

  /** Rows-only by the dbscan-family contract: the per-level cores
    * ride trained IVF centroids and the staged ε-pair store, neither
    * of which is one SQL query (same written note as q_dbscan); the
    * planted two-blob construction plus the structural asserts in
    * [[levelDbscan]] are the floor. */
  val clusterStability: Q = Q(
    "q_cluster_stability",
    (s, dir) => scoped {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val proto = emb.filter(col("vec_id") === 0).select(col("v")).limit(1)
      val plants = s.range(12)
        .select((col("id") + lit(2000000L)).as("vec_id"))
        .crossJoin(broadcast(proto))
      val corpus = keep(emb.unionByName(plants))
      val pairs = keep(Similarity.pairStoreMemo(s, s"$dir#dbscan90", Levels.min / 1000.0,
        corpus, Ivf.trainCentroidsMemo(s"$dir#dbscan", corpus)))
      val all3 = keep(levelDbscan(corpus, pairs, Levels, minPts = 10))
      // structural floor at EVERY level: blob all-core, one cluster
      val audits = all3.filter(col("id") >= 2000000L)
        .groupBy("lvl")
        .agg(count(when(col("role") === "core", 1)).as("n_core"),
          countDistinct(col("cluster")).as("n_clusters"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      Levels.foreach { lp =>
        val (nCore, nClusters) = audits.getOrElse(lp, (0L, 0L))
        Audit.check(s"planted blob core points at level $lp", nCore, Audit.atLeast(12))
        Audit.check(s"planted blob clusters at level $lp", nClusters, Audit.equal(1))
      }
      val perLevel = Levels.map(lp => lp -> all3.filter(col("lvl") === lp)
        .select("id", "cluster", "role"))
      val out = stabilityRollup(perLevel)
      val materialized = out.collect()
      s.createDataFrame(s.sparkContext.parallelize(
          materialized.toIndexedSeq, 1), out.schema)
        .orderBy("base_cluster", "level_permille")
    },
    None)

  /** The [[hdbscanExtract]] sim grid — finer than [[Levels]] so the
    * excess-of-mass comparison has slabs to trade: with only 3 widely
    * spaced levels the pre-split slab nearly always outweighs the
    * post-split remainder and the cut degenerates to the roots. */
  val HdbLevels = Seq(900, 925, 950, 980)

  /** Sim value a core point "reaches" when it is last core at `lvl`:
    * the next grid line (cap 1000 = exact-duplicate sim) — the upper
    * slab convention: a point core at `lvl` holds its density through
    * the whole [lvl, next) slab. */
  private def nextLevel(grid: Seq[Int], lvl: Int): Int =
    grid.dropWhile(_ <= lvl).headOption.getOrElse(1000)

  /** The condensed-tree excess-of-mass fold of [[hdbscanExtract]],
    * over plain collections so DbscanSpec can drive it on hand-built
    * hierarchies. Inputs are label-domain-bounded: `deaths` maps each
    * (lvl, cluster) node to its members' death-level histogram
    * (death = last grid level the member stays core); `parents` maps
    * each non-root node to its (unique, nesting-guaranteed) parent
    * cluster at the previous grid level. Returns the kept antichain
    * as (birth node, λ_end, stability). */
  def condensedCut(deaths: Map[(Int, Long), Map[Int, Long]],
      parents: Seq[((Int, Long), Long)], grid: Seq[Int], minPts: Int)
      : Seq[((Int, Long), Int, Long)] = {
    type Node = (Int, Long)
    // precondition checks (public helper driven by specs on hand-built
    // hierarchies): every parent edge must start at a NON-HEAD grid
    // level — the child's parent key is looked up one grid line up,
    // so a head-level or off-grid child would index grid(-1) /
    // grid(indexOf-1) and surface as a bare IndexOutOfBoundsException
    // — and every node must carry a death histogram, or stab() NPEs
    for (((lvl, c), _) <- parents) {
      if (!grid.tail.contains(lvl))
        throw new IllegalArgumentException(
          s"condensedCut: parent edge for cluster ($lvl, $c) starts at " +
            s"level $lvl, which is not in grid.tail ${grid.tail.mkString("[", ",", "]")} " +
            "— only non-head grid levels can have a parent one line up")
      if (!deaths.contains((lvl, c)))
        throw new IllegalArgumentException(
          s"condensedCut: no deaths histogram for node ($lvl, $c)")
    }
    val nCore: Map[Node, Long] = deaths.map { case (k, h) => k -> h.values.sum }
    val kids: Map[Node, Seq[Node]] = parents
      .groupBy { case ((lvl, _), p) => (grid(grid.indexOf(lvl) - 1), p) }
      .map { case (par, cs) => par -> cs.map(_._1) }
    def realKids(n: Node): Seq[Node] =
      kids.getOrElse(n, Nil).filter(k => nCore.getOrElse(k, 0L) >= minPts)
        .sortBy(_._2)
    // segment = birth node + where it ends; single real children are
    // continuations (mass shed keeps the segment alive), ≥2 a split
    def segmentOf(birth: Node): (Int, Seq[Node]) = {
      var cur = birth
      while (true) {
        val rk = realKids(cur)
        if (rk.size >= 2) return (nextLevel(grid, cur._1), rk) // split level
        if (rk.isEmpty) return (1000, Nil) // never splits
        cur = rk.head
      }
      throw new IllegalStateException("unreachable")
    }
    def stab(birth: Node, lEnd: Int): Long =
      deaths(birth).map { case (d, n) =>
        n * (math.min(nextLevel(grid, d), lEnd) - birth._1).toLong }.sum
    // bottom-up excess of mass: keep a segment iff its own slab mass
    // is at least its descendants' best total (ties go coarse)
    def sweep(birth: Node): (Long, Seq[(Node, Int, Long)]) = {
      val (lEnd, split) = segmentOf(birth)
      val own = stab(birth, lEnd)
      val (kidVal, kidKept) = split.map(sweep).foldLeft(
        (0L, Seq.empty[(Node, Int, Long)])) { case ((v, ks), (v2, ks2)) =>
        (v + v2, ks ++ ks2) }
      if (own >= kidVal) (own, Seq((birth, lEnd, own)))
      else (kidVal, kidKept)
    }
    deaths.keys.filter(_._1 == grid.head)
      .filter(n => nCore(n) >= minPts).toSeq.sortBy(_._2)
      .flatMap(r => sweep(r)._2)
  }

  /** HDBSCAN-STYLE FLAT CUT — stability-maximizing cluster extraction
    * over the multi-level DBSCAN hierarchy (Campello, Moulavi &
    * Sander, PAKDD 2013, discretized to the [[HdbLevels]] sim grid):
    * [[q_cluster_stability]] REPORTS how clusters fragment as the
    * density threshold tightens; this query DECIDES — one flat,
    * non-overlapping cluster set chosen by excess of mass, the
    * variable-density answer single-ε DBSCAN cannot give.
    *
    * Construction. Tightening sim thresholds nest monotonically
    * (pairs at level l ⊇ pairs at l' > l, so cores and CC components
    * nest too): the per-level clusters form a TREE. Condensed
    * segments follow HDBSCAN: a segment is born where its cluster
    * first appears (root level or a parent's split), continues while
    * at most ONE ≥-minPts child carries on (smaller fragments are
    * mass shed, not splits), and ends at a split into ≥2 real
    * children (λ_end = the split level) or never (λ_end = 1000).
    * Its stability is the slab sum over BIRTH members
    *
    *   stab(seg) = Σ_p (min(nextLevel(death_p), λ_end) − λ_birth),
    *
    * death_p = the last level p stays core — so a parent is scored
    * on the pre-split slab over ALL its members and its children on
    * the post-split slabs over the survivors: disjoint λ-mass, the
    * comparison excess-of-mass actually makes. Selection is the
    * classic bottom-up sweep: a segment is kept iff its own slab
    * mass is at least its descendants' best total (ties go coarse);
    * kept segments form an antichain, so every point whose chain
    * reaches a leaf has EXACTLY ONE flat home.
    *
    * Rows-only by the blocking contract ([[dbscan]]), floor-armed
    * twice in-query over TWO planted blobs: A = 12 exact copies of
    * vector 0 (ids 2M+, pairwise sim 1.0) and B = 12 exact copies of
    * a driver-constructed unit vector at cosine EXACTLY 0.91 from A
    * (ids 3M+ — inside the loosest level 0.90, outside 0.925, so A–B
    * can bridge only in the root slab and MUST split by 925). Each
    * blob must be all-core and mono-cluster at every grid level
    * (identical copies share their centroid argmin — splitting one is
    * a regression, not blocking noise), and the flat cut must give
    * each blob exactly one home; whether the 0.91 bridge survives the
    * blocking changes only WHERE the blobs' segments are born, never
    * the homes-per-blob count. DbscanSpec drives the condensed fold
    * on hand-built fixtures where the true cut is known both ways.
    *
    * Scale shape: ONE blocked pair join (shared with the dbscan
    * family via the memoized centroids), one 4-way level explode, ONE
    * stacked-level CC ([[levelDbscan]]); the death table and per-node
    * census are (lvl, cluster)-keyed aggregates. Only the condensed
    * TREE (≤ clusters × levels rows — label-domain-bounded, never
    * corpus-scaled) crosses to the driver for the fold, the same
    * bounded-matrix discipline as the PMI power iteration. */
  val hdbscanExtract: Q = Q(
    "q_hdbscan_extract",
    (s, dir) => scoped {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val proto = emb.filter(col("vec_id") === 0).select(col("v")).limit(1)
      // blob B prototype: unit vector at cosine EXACTLY 0.91 from
      // vector 0, built driver-side from the (bounded: two vectors)
      // v0/v1 collect — b = T·ê0 + √(1−T²)·û with û the v1 component
      // orthogonal to v0, so ⟨b, ê0⟩ = T by construction
      val v01 = emb.filter(col("vec_id") <= 1).orderBy("vec_id")
        .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
      Audit.check("corpus vectors 0/1 present", v01.length, Audit.equal(2))
      val bProto: Array[Double] = {
        val T = 0.91
        def unit(a: Array[Double]) = {
          val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n)
        }
        val e0 = unit(v01(0)); val e1 = unit(v01(1))
        val c = e0.zip(e1).map { case (x, y) => x * y }.sum
        Audit.check("|cos| of vectors 0/1 (blob B needs them apart)", math.abs(c),
          Audit.atMost(0.99))
        val u = unit(e1.zip(e0).map { case (y, x) => y - c * x })
        val w = math.sqrt(1 - T * T)
        e0.zip(u).map { case (x, y) => T * x + w * y }
      }
      val plantsA = s.range(12)
        .select((col("id") + lit(2000000L)).as("vec_id"))
        .crossJoin(broadcast(proto))
      val plantsB = s.range(12)
        .select((col("id") + lit(3000000L)).as("vec_id"),
          array(bProto.map(lit).toIndexedSeq: _*).cast("array<double>").as("v"))
      val corpus = keep(emb.unionByName(plantsA).unionByName(plantsB))
      // own memo key AND own pair store: this corpus carries blob B,
      // and sharing the dbscan-family key would make the trained
      // centroids (and pairs) depend on which query ran first
      val pairs = keep(Similarity.pairStoreMemo(s, s"$dir#hdbscan90",
        HdbLevels.min / 1000.0, corpus,
        Ivf.trainCentroidsMemo(s"$dir#hdbscan", corpus)))
      val minPts = 10
      val lvlOut = keep(levelDbscan(corpus, pairs, HdbLevels, minPts))
      val cores = lvlOut.filter(col("role") === "core")
        .select(col("lvl"), col("id"), col("cluster"))
      // per-point death level (cores nest, so max = the last level)
      val death = cores.groupBy("id").agg(max(col("lvl")).as("death_lvl"))
      // per-(node, death) census — the only frames the driver reads,
      // all label-domain-bounded
      val nodeDeaths = cores.join(death, "id")
        .groupBy("lvl", "cluster", "death_lvl")
        .agg(count(lit(1)).as("n")).collect()
      val prevCase = "CASE lvl " + HdbLevels.zip(HdbLevels.tail)
        .map { case (p, c) => s"WHEN $c THEN $p" }
        .mkString(" ", " ", " ELSE -1 END")
      val parentRows = cores.as("c")
        .withColumn("prev_lvl", expr(prevCase))
        .join(cores.as("p"),
          col("c.id") === col("p.id") && col("p.lvl") === col("prev_lvl"))
        .groupBy(col("c.lvl").as("lvl"), col("c.cluster").as("cluster"))
        .agg(min(col("p.cluster")).as("pmin"), max(col("p.cluster")).as("pmax"))
        .collect()
      // blob floor, part 1: each blob all-core mono-cluster per level
      val blobStats = lvlOut.filter(col("id") >= 2000000L)
        .withColumn("blob", when(col("id") >= 3000000L, "B").otherwise("A"))
        .groupBy("lvl", "blob")
        .agg(count(when(col("role") === "core", 1)).as("n_core"),
          countDistinct(col("cluster")).as("n_clusters"),
          min(col("cluster")).as("c"))
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r).toMap
      for (lp <- HdbLevels; blob <- Seq("A", "B")) {
        val r = blobStats.get((lp, blob))
        Audit.check(s"planted blob $blob census rows at level $lp", r.size, Audit.equal(1))
        Audit.check(s"planted blob $blob core points at level $lp", r.get.getLong(2),
          Audit.atLeast(12))
        Audit.check(s"planted blob $blob clusters at level $lp", r.get.getLong(3), Audit.equal(1))
      }

      // ---- driver-side condensed fold over the bounded tree ----
      val deaths: Map[(Int, Long), Map[Int, Long]] = nodeDeaths
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (k, rs) =>
          k -> rs.map(r => r.getInt(2) -> r.getLong(3)).toMap }
      parentRows.foreach(r => Audit.check(
        s"hierarchy max parent label at (${r.getInt(0)}, ${r.getLong(1)})",
        r.getLong(3), Audit.equal(r.getLong(2))))
      val selected = condensedCut(deaths,
        parentRows.map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))),
        HdbLevels, minPts)
      // blob floor, part 2: exactly one selected segment on each
      // blob's chain — the flat cut gives every blob one home
      Seq("A", "B").foreach { blob =>
        val chainNodes = HdbLevels
          .map(l => (l, blobStats((l, blob)).getLong(4))).toSet
        val homes = selected.count { case (n, _, _) => chainNodes(n) }
        Audit.check(s"flat-cut homes of planted blob $blob", homes, Audit.equal(1))
      }
      import s.implicits._
      selected
        .map { case ((lvl, c), lEnd, st) =>
          (lvl, c, lEnd, deaths((lvl, c)).values.sum, st) }
        .sortBy { case (lvl, c, _, _, _) => (lvl, c) }
        .toDF("birth_permille", "cluster", "end_permille", "n_core",
          "stability_permille_pts")
        .coalesce(1)
    },
    None)

  /** One min-label-propagation + pointer-jump round of the
    * q_dbscan_exact oracle's connected components over the core-core
    * edge set — the [[graft.ops.Graph]] robustness-census CTE shape,
    * proven equivalent to [[graft.llm.Dedup.connectedComponents]]'s
    * component-min labels (both converge to the min vertex id). */
  private def dbxCcRound(r: Int): String = s"""
      xp$r AS MATERIALIZED (
        SELECT v.id, least(v.label, coalesce(m.ml, v.label)) AS label
        FROM xl${r - 1} v LEFT JOIN (
          SELECT e.dst AS id, min(l.label) AS ml
          FROM xsym e JOIN xl${r - 1} l ON e.src = l.id
          GROUP BY e.dst) m ON v.id = m.id),
      xl$r AS MATERIALIZED (
        SELECT a.id, b.label FROM xp$r a JOIN xp$r b ON a.label = b.id)"""

  private val DbxCcRounds = 4

  /** DBSCAN, EXACT-GRAPH CORRECTNESS PIN — the portable-pin device
    * ([[graft.llm.Curation]] q_facility_exact lineage) applied to
    * density clustering: [[dbscanFromPairs]] — the SAME core the
    * rows-only corpus queries run — over an EXACT all-pairs cosine
    * ε-graph (≥ 0.95) on a bounded slice (vec_id < 200 plus a
    * planted 12-copy blob of vector 0 at derived-offset ids),
    * hash-checked per point against DuckDB: degrees and the
    * deg+1 ≥ minPts core rule, component-min cluster labels via
    * [[DbxCcRounds]] unrolled propagate+jump rounds (pointer jumping
    * doubles reach per round, and a convergence sentinel poisons the
    * result if the budget were ever exhausted), border adoption of
    * the MIN core-neighbor label, and noise as the complement. The
    * corpus queries stay rows-only honestly (their ε-graph is
    * IVF-blocked under trained centroids); this pins the clustering
    * semantics — every (id, cluster, role) row — against an
    * independent engine. Blob floor in-query: all 13 members (12
    * plants + vector 0) core, one cluster. */
  val dbscanExact: Q = Q(
    "q_dbscan_exact",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val offset = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
      val slice = emb.filter(col("vec_id") < 200)
      val proto = slice.filter(col("vec_id") === 0).select(col("v")).limit(1)
      val plants0 = s.range(12)
        .select((col("id") + lit(offset)).as("vec_id"))
        .crossJoin(broadcast(proto))
      val corpus0 = slice.unionByName(plants0)
      // bounded pin (≤212 vectors by the vec_id<200 literal):
      // slice-sized parallelism — see [[graft.Checkpoints.BoundedPin]]
      graft.Checkpoints.BoundedPin(s) { clone =>
      // the ferry's lineage cut already materializes the corpus —
      // the previous explicit persist is subsumed
      val corpus = graft.Checkpoints.BoundedPin.ferry(clone, corpus0)
      val pairs = corpus.as("a").join(corpus.as("b"),
          col("a.vec_id") < col("b.vec_id"))
        .filter(graft.llm.Similarity.cosine(col("a.v"), col("b.v")) >= 0.95)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      scoped {
        val out = keep(dbscanFromPairs(corpus.select("vec_id"), pairs, minPts = 10)
          .orderBy("id"))
        out.count()
        corpus.unpersist()
        Audit.frame(out.filter(col("id") >= offset || col("id") === 0L),
          Audit.Check("exact-DBSCAN blob core points",
            count(when(col("role") === "core", 1)), Audit.atLeast(13)),
          Audit.Check("exact-DBSCAN blob clusters",
            countDistinct(col("cluster")), Audit.equal(1)))
        out
      }
      }
    },
    Some(s"""
      WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
      slice AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE vec_id < 200),
      corpus AS MATERIALIZED (
        SELECT vec_id, v FROM slice
        UNION ALL
        SELECT (SELECT m + 1 FROM mx) + i AS vec_id,
               (SELECT v FROM slice WHERE vec_id = 0) AS v
        FROM (SELECT unnest(generate_series(0, 11)) AS i)),
      pairs AS MATERIALIZED (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.95),
      deg AS (
        SELECT id, count(*) AS deg FROM (
          SELECT vec_a AS id FROM pairs
          UNION ALL SELECT vec_b AS id FROM pairs)
        GROUP BY id),
      core AS MATERIALIZED (SELECT id FROM deg WHERE deg + 1 >= 10),
      ce AS MATERIALIZED (
        SELECT p.vec_a, p.vec_b FROM pairs p
        JOIN core a ON a.id = p.vec_a JOIN core b ON b.id = p.vec_b),
      xsym AS MATERIALIZED (
        SELECT vec_a AS src, vec_b AS dst FROM ce
        UNION ALL SELECT vec_b AS src, vec_a AS dst FROM ce),
      xl0 AS MATERIALIZED (SELECT id, id AS label FROM core),""" +
      (1 to DbxCcRounds).map(dbxCcRound).mkString(",") + s""",
      xconv AS (
        SELECT count(*) AS moved
        FROM xl$DbxCcRounds a JOIN xl${DbxCcRounds - 1} b
          ON a.id = b.id AND a.label <> b.label),
      comp AS (SELECT id, label AS cluster FROM xl$DbxCcRounds),
      border AS (
        SELECT n.id, min(c.cluster) AS cluster FROM (
          SELECT vec_a AS id, vec_b AS nb FROM pairs
          UNION ALL SELECT vec_b AS id, vec_a AS nb FROM pairs) n
        JOIN comp c ON c.id = n.nb
        WHERE n.id NOT IN (SELECT id FROM core)
        GROUP BY n.id)
      SELECT * FROM (
        SELECT id, CAST(cluster AS BIGINT) AS cluster, 'core' AS role
        FROM comp
        UNION ALL
        SELECT id, CAST(cluster AS BIGINT) AS cluster, 'border' FROM border
        UNION ALL
        SELECT vec_id AS id, CAST(NULL AS BIGINT) AS cluster, 'noise'
        FROM corpus
        WHERE vec_id NOT IN (SELECT id FROM comp)
          AND vec_id NOT IN (SELECT id FROM border)
        UNION ALL
        -- convergence sentinel: exhausted CC unroll poisons the hash
        SELECT CAST(-999999 AS BIGINT), CAST(-1 AS BIGINT), 'unconverged'
        WHERE (SELECT moved FROM xconv) <> 0)
      ORDER BY id"""))

  val all: Seq[Q] = Seq(dbscan, dbscanIncremental, clusterStability,
    hdbscanExtract, dbscanExact)
}
