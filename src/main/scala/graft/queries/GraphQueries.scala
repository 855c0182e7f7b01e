package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Graph

/** Graph-analytics queries over the customer↔supplier trade graph: an edge
  * for every (customer, supplier) pair that traded at least once
  * (orders ⋈ lineitem, deduped). Nodes are key-disjoint by parity encoding —
  * customers at `2k`, suppliers at `2k+1` — so one Long column carries both
  * sides.
  *
  * This is the graph the curation pipeline already walks implicitly
  * (dedup groups = connected components); PageRank adds the "which nodes
  * MATTER" reading used for e.g. source-weighting a crawl frontier, and the
  * degree profile is the pre-join shape check.
  */
object GraphQueries {

  val pagerankIters = 5

  /** The ONE trade-relation derivation every graph query builds on:
    * DISTINCT (customer, supplier) pairs that traded at least once —
    * staged once per (session, dir) like the dedup/text backbones, since
    * PageRank, degree and co-purchase all open with the same orders ⋈
    * lineitem. Change the edge definition (e.g. exclude cancelled orders)
    * here and every graph moves together.
    * (`distinct` commutes with the downstream parity encoding — it is
    * injective — and [[Graph.commonNeighbors]] re-distincts internally, so
    * sharing the deduped root is value-neutral for every consumer.)
    */
  private def customerSupplierPairs(s: SparkSession, dir: String): DataFrame =
    BackboneRegistry.getOrBuild(s, s"graph:pairs:$dir")(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey"))
        .distinct()
        .localCheckpoint(true))

  /** Distinct trade edges customer→supplier in parity encoding. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    customerSupplierPairs(s, dir)
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))

  /** `graph_pagerank` — 5 rounds of damped PageRank over the symmetrized
    * trade graph; every node with its mean-1.0 normalized rank.
    */
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    // mirrorDisjoint: parity encoding makes src (even) and dst (odd)
    // disjoint, so the symmetrizing distinct is a no-op — skipped (r17;
    // the oracle's UNION ALL edge CTE states the same fact). The node
    // count is a pure scalar of the staged edge backbone — session-cached
    // like bfs's seed and ppr's seed set (r17), so repeat calls skip the
    // count-distinct job.
    val edges = tradeEdges(s, dir)
    val nNodes = BackboneRegistry.scalarOrBuild(s, s"graph:nnodes:$dir")(
      edges.select(col("src").as("v"))
        .union(edges.select(col("dst").as("v")))
        .agg(countDistinct(col("v"))).first().getLong(0))
    val (ranks, n) = Graph.pagerank(edges, iters = pagerankIters,
      mirrorDisjoint = true, nOpt = Some(nNodes))
    Graph.normalized(ranks, n).orderBy("node")
  }

  /** `graph_degree` — degree histogram of the same graph. */
  def degree(s: SparkSession, dir: String): DataFrame =
    Graph.degreeProfile(tradeEdges(s, dir), mirrorDisjoint = true)
      .orderBy("degree")

  val pprIters = 4
  val pprSeedCount = 3

  /** `graph_ppr` — personalized PageRank ([[Graph.personalizedPagerank]])
    * from the 3 smallest node ids of the trade graph (deterministic,
    * oracle-recomputable seed rule — in parity encoding these are the 3
    * lowest customer keys): 4 integer micro-unit rounds, every reached node
    * with its exact mass and mass share. The seeded complement of
    * `graph_pagerank`: importance relative to THESE accounts (crawl
    * seed-weighting, account-centric supplier ranking) instead of global
    * importance; support grows outward from the seeds, so round k shuffles
    * only the reached neighborhood.
    */
  def ppr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir)
    // the 3 smallest node ids are a pure scalar artifact of the staged edge
    // backbone — session-cached like graph_bfs's seed and graph_kcore's
    // threshold (r17; the derivation re-ran a full symmetrize + distinct +
    // global sort every call)
    val seedIds = BackboneRegistry.scalarOrBuild(s, s"graph:pprseeds:$dir")(
      edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
        .select(col("src").as("node")).distinct()
        .orderBy("node").limit(pprSeedCount)
        .collect().map(_.getLong(0)).toSeq)
    val seeds = seedIds.toDF("node")
    Graph.personalizedPagerank(edges, seeds, pprSeedCount, pprIters,
        mirrorDisjoint = true)
      .select(col("node"), col("u"),
        round(col("u").cast("double") / 1.0e15, 9).as("share"))
      .orderBy("node")
  }

  /** `graph_assortativity` — degree assortativity of the symmetrized trade
    * graph: the Pearson correlation of (deg(src), deg(dst)) over directed
    * edges — one number saying whether high-degree nodes attach to other
    * hubs (r > 0) or to the periphery (r < 0), the structural reading that
    * decides sampling strategy before any walk (a disassortative graph's
    * hubs are the bottleneck salted joins and capped explosions exist for).
    * Scale shape: degree rollup + two equi-joins + ONE partial-aggregable
    * moment row (n, Σx, Σy, Σx², Σy², Σxy) — nothing quadratic, driver
    * traffic is six numbers. Determinism: the q79 contract — exact decimal
    * moment sums over integer degrees, closed form in double from cast-once
    * moments, identical IEEE expression in both engines.
    */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir)
    // parity encoding: the mirrored union cannot hold duplicates, so the
    // old symmetrizing distinct was a pure exchange+agg — dropped (r17,
    // matching the oracle's UNION ALL); the explicit spread pins the
    // decimal-moment scan below at the session's width (its input is
    // otherwise two narrow scan partitions)
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(s.sparkContext.defaultParallelism)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("d"))
    val ed = sym
      .join(deg.select(col("src"), col("d").as("da")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("db")), "dst")
    def p(a: String, b: String) =
      (col(a).cast("decimal(19,0)") * col(b).cast("decimal(19,0)"))
        .cast("decimal(38,0)")
    val m = ed.agg(count(lit(1)).as("n"),
      sum(col("da").cast("decimal(18,0)")).as("sx"),
      sum(col("db").cast("decimal(18,0)")).as("sy"),
      sum(p("da", "db")).as("sxy"),
      sum(p("da", "da")).as("sxx"),
      sum(p("db", "db")).as("syy"))
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    m.select(col("n").as("n_dir_edges"),
      round((nd * d("sxy") - d("sx") * d("sy")) /
        (sqrt(nd * d("sxx") - d("sx") * d("sx"))
          * sqrt(nd * d("syy") - d("sy") * d("sy"))), 6).as("assortativity"))
  }

  val bfsRounds = 6

  /** `graph_bfs` — budgeted BFS from the graph's minimum node id over the
    * symmetrized trade graph: per level, how many nodes first become
    * reachable and their id envelope — the blast-radius / reachability
    * primitive (how much of the supplier network is within k hops of this
    * account) that complements membership (components), importance
    * (PageRank), and shape (degree/triangles). Levels are min-hop by
    * construction on BOTH sides (frontier + anti-join here, UNION-deduped
    * recursive CTE + min(level) in the oracle), all integers — engine-exact
    * with no arithmetic caveats. The seed is a one-scalar action (the
    * oracle recomputes it as the same min), session-cached.
    */
  def bfs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir)
    val seedId = BackboneRegistry.scalarOrBuild(s, s"graph:bfsseed:$dir")(
      edges.agg(min(least(col("src"), col("dst")))).first().getLong(0))
    Graph.bfsLevels(edges, Seq(seedId).toDF("node"), bfsRounds,
        mirrorDisjoint = true)
      .groupBy("level")
      .agg(count(lit(1)).as("nodes"),
        min("node").as("min_node"), max("node").as("max_node"))
      .orderBy("level")
  }

  val commonCap = 64

  /** `graph_common` — co-purchase similarity: supplier pairs serving the
    * same customers, scored by overlap coefficient over the capped bipartite
    * edge list ([[Graph.commonNeighbors]]); top 50.
    */
  def common(s: SparkSession, dir: String): DataFrame = {
    val e = customerSupplierPairs(s, dir)
      .select(col("o_custkey").as("g"), col("l_suppkey").as("i"))
    Graph.commonNeighbors(e, cap = commonCap)
      .orderBy(desc("overlap"), asc("i1"), asc("i2"))
      .limit(50)
  }

  /** `graph_triangles` — triangle census ([[Graph.triangleStats]]) of the
    * part co-occurrence graph: parts are connected when some order contains
    * both. The pair explosion is per-order (bounded by order size, ≤7 in
    * TPC-H-shaped data), so edge derivation is one equi-join on the order
    * key; the census itself is degree-ordered (see the operator doc).
    */
  def triangles(s: SparkSession, dir: String): DataFrame =
    Graph.triangleStats(partPairs(s, dir).select(col("a"), col("b")))

  val kcoreRounds = 6
  val kcoreMinSupport = 2

  /** `graph_kcore` — k-core peel trajectory ([[Graph.kcorePeel]]) of the
    * SUPPORT-THRESHOLDED part co-occurrence graph (parts sharing ≥ 2 distinct
    * orders — one repeat co-purchase is signal, a single co-occurrence in a
    * uniform basket is noise and yields a near-regular graph with no core
    * structure to find), at the data-derived threshold
    * ([[Graph.coreThreshold]]): 6 synchronous peeling rounds, one oracled row
    * each — the density-core audit run before sampling a co-occurrence graph
    * (which parts sit in the mutually-dense core vs the peelable fringe), on
    * the same staged edge derivation the triangle census reads.
    */
  def kcore(s: SparkSession, dir: String): DataFrame = {
    val pairs = partPairs(s, dir)
      .filter(col("support") >= kcoreMinSupport)
      .select(col("a"), col("b"))
    // the data-derived threshold is a pure scalar of the staged edge
    // backbone — session-cached like graph_bfs's seed (r17; it re-ran a
    // full degree aggregation + exact percentile every call)
    val k = BackboneRegistry.scalarOrBuild(s, s"graph:kcorek:$dir")(
      Graph.coreThreshold(pairs))
    Graph.kcorePeel(pairs, k, kcoreRounds)
      .orderBy("round")
  }

  val lpaRounds = 5

  /** `graph_lpa` — label-propagation communities of the support-≥2 part
    * co-occurrence graph ([[Graph.labelPropagation]], same staged edges as
    * the k-core peel): 5 synchronous rounds, reported as the community-size
    * histogram — the cluster-structure audit (is this graph a few giant
    * communities or dust?) run before sampling or sharding by community.
    */
  def lpa(s: SparkSession, dir: String): DataFrame = {
    val pairs = partPairs(s, dir)
      .filter(col("support") >= kcoreMinSupport)
      .select(col("a"), col("b"))
    Graph.labelPropagation(pairs, lpaRounds)
      .groupBy("lbl").agg(count(lit(1)).as("size"))
      .groupBy(col("size").as("community_size"))
      .agg(count(lit(1)).as("n_communities"))
      .orderBy("community_size")
  }

  /** Part co-occurrence edges (parts sharing an order) WITH their support
    * (number of distinct co-occurring orders) — the graph under both the
    * triangle census (all pairs) and the k-core peel (support-thresholded),
    * staged once per (session, dir) like [[customerSupplierPairs]]. The pair
    * explosion is per-order (bounded by order size, ≤7 in TPC-H-shaped
    * data), so the derivation is one equi-join on the order key into a
    * partial-aggregable pair count.
    */
  private def partPairs(s: SparkSession, dir: String): DataFrame =
    BackboneRegistry.getOrBuild(s, s"graph:partpairs:$dir") {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      li.as("x")
        .join(li.select(col("ok"), col("pk").as("pk2")).as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("pk2"))
        .groupBy(col("x.pk").as("a"), col("pk2").as("b"))
        .agg(count(lit(1)).as("support"))
        .localCheckpoint(true)
    }

  /** Shared edge-derivation SQL: the parity-encoded symmetrized trade graph
    * with per-source degree (mirrored pairs cannot collide — src is even,
    * dst odd — so UNION ALL matches the Spark union+distinct).
    */
  private val edgeSql =
    """e0 AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)""".stripMargin

  /** The PageRank oracle mirrors the integer micro-unit contract of
    * [[graft.operators.Graph]] term for term — 1e15 mass units, floor
    * division by degree, integer damping mix — so every iteration is
    * bit-exact in both engines; the unrolled CTE chain is the SQL rendering
    * of the fixed iteration count.
    */
  private def pagerankOracle: String = {
    val m = Graph.massUnits
    val d = Graph.dampingPct
    val iters = (1 to pagerankIters).map { k =>
      s"""r$k AS (SELECT ed.dst AS node,
         |  ($m * ${100 - d} // 100) // (SELECT n FROM nn)
         |    + (sum(p.u // ed.deg) * $d) // 100 AS u
         | FROM ed JOIN r${k - 1} p ON p.node = ed.src GROUP BY ed.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeSql,
       |ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT src AS node, $m // (SELECT n FROM nn) AS u FROM deg),
       |$iters
       |SELECT node,
       |  round(CAST(u AS DOUBLE) * (SELECT n FROM nn) / 1.0e15, 6) AS rank
       |FROM r$pagerankIters ORDER BY node""".stripMargin
  }

  /** The k-core oracle unrolls the fixed round budget exactly like the
    * PageRank oracle unrolls its iterations: every round's survivor set and
    * surviving edge set is its own CTE, and every round contributes one
    * result row, so the trajectory — not just the fixpoint — is
    * hash-compared. The threshold CTE mirrors [[Graph.coreThreshold]]'s
    * exact-median arithmetic (integer inputs → the interpolated midpoint is
    * exactly representable → `floor` is engine-exact).
    */
  private def kcoreOracle: String = {
    // MATERIALIZED is load-bearing: each round references the previous
    // round's edge CTE three times (degree count + both survivor probes), so
    // default CTE inlining would expand the chain 3^rounds-fold; pinning
    // materialization keeps the oracle linear in rounds like the engine.
    val rounds = (1 to kcoreRounds).map { r =>
      s"""s$r AS MATERIALIZED (SELECT src FROM e${r - 1} GROUP BY src
         |  HAVING count(*) >= (SELECT k FROM kk)),
         |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN s$r sa ON e.src = sa.src JOIN s$r sb ON e.dst = sb.src)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to kcoreRounds).map { r =>
      s"""SELECT $r AS round, (SELECT k FROM kk) AS k,
         |  (SELECT count(*) FROM s$r) AS nodes,
         |  (SELECT count(*) FROM e$r) // 2 AS edges""".stripMargin
    }.mkString(" UNION ALL\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |und AS (SELECT x.pk AS a, y.pk AS b
       |  FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $kcoreMinSupport),
       |e0 AS (SELECT a AS src, b AS dst FROM und
       |  UNION ALL SELECT b AS src, a AS dst FROM und),
       |kk AS (SELECT greatest(2, CAST(floor(median(dg)) AS BIGINT)) AS k
       |  FROM (SELECT count(*) AS dg FROM e0 GROUP BY src)),
       |$rounds
       |SELECT * FROM ($rows) ORDER BY round""".stripMargin
  }

  /** LPA oracle: unrolled rounds (MATERIALIZED — each round's labels feed
    * one join), the argmax rendered as the equivalent
    * `row_number() OVER (ORDER BY count DESC, label)` — same total order as
    * the engine's struct-min, so every round's full label assignment (and
    * therefore the final histogram) is engine-exact.
    */
  private def lpaOracle: String = {
    val rounds = (1 to lpaRounds).map { r =>
      s"""r$r AS MATERIALIZED (SELECT node, lbl FROM (
         |  SELECT e.dst AS node, l.lbl, count(*) AS c,
         |    row_number() OVER (PARTITION BY e.dst
         |      ORDER BY count(*) DESC, l.lbl) AS rn
         |  FROM e0 e JOIN r${r - 1} l ON l.node = e.src
         |  GROUP BY e.dst, l.lbl) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |und AS (SELECT x.pk AS a, y.pk AS b
       |  FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $kcoreMinSupport),
       |e0 AS (SELECT a AS src, b AS dst FROM und
       |  UNION ALL SELECT b AS src, a AS dst FROM und),
       |r0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e0),
       |$rounds
       |SELECT size AS community_size, count(*) AS n_communities FROM (
       |  SELECT lbl, count(*) AS size FROM r$lpaRounds GROUP BY lbl) g
       |GROUP BY size ORDER BY size""".stripMargin
  }

  /** The PPR oracle mirrors [[Graph.personalizedPagerank]] term for term:
    * the same seed rule (3 smallest nodes of the degree table), the same
    * union-then-sum round shape (damped in-contributions ⊎ restart rows), and
    * the same integer micro-unit arithmetic as the global PageRank oracle —
    * bit-exact per round in both engines.
    */
  private def pprOracle: String = {
    val m = Graph.massUnits
    val d = Graph.dampingPct
    val base = s"($m * ${100 - d} // 100) // $pprSeedCount"
    val iters = (1 to pprIters).map { k =>
      s"""r$k AS (SELECT node, sum(u0) AS u FROM (
         |  SELECT ed.dst AS node, (sum(p.u // ed.deg) * $d) // 100 AS u0
         |    FROM ed JOIN r${k - 1} p ON p.node = ed.src GROUP BY ed.dst
         |  UNION ALL SELECT node, $base AS u0 FROM seeds) t$k GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeSql,
       |ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
       |seeds AS (SELECT src AS node FROM deg ORDER BY src LIMIT $pprSeedCount),
       |r0 AS (SELECT node, $m // $pprSeedCount AS u FROM seeds),
       |$iters
       |SELECT node, CAST(u AS BIGINT) AS u,
       |  round(CAST(u AS DOUBLE) / 1.0e15, 9) AS share
       |FROM r$pprIters ORDER BY node""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "graph_kcore" -> kcoreOracle,
    "graph_ppr" -> pprOracle,
    "graph_assortativity" ->
      s"""WITH $edgeSql,
         |ed AS (SELECT d1.deg AS da, d2.deg AS db
         |       FROM e JOIN deg d1 ON d1.src = e.src JOIN deg d2 ON d2.src = e.dst),
         |m AS (SELECT count(*) AS n,
         |  sum(CAST(da AS DECIMAL(18,0))) AS sx,
         |  sum(CAST(db AS DECIMAL(18,0))) AS sy,
         |  sum(CAST(CAST(da AS DECIMAL(19,0)) * CAST(db AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxy,
         |  sum(CAST(CAST(da AS DECIMAL(19,0)) * CAST(da AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxx,
         |  sum(CAST(CAST(db AS DECIMAL(19,0)) * CAST(db AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS syy
         | FROM ed)
         |SELECT CAST(n AS BIGINT) AS n_dir_edges,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         |    AS assortativity
         |FROM m""".stripMargin,
    "graph_lpa" -> lpaOracle,
    "graph_common" ->
      s"""WITH e AS (SELECT DISTINCT o_custkey AS g, l_suppkey AS i
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |cnt AS (SELECT g, count(*) AS k FROM e GROUP BY g),
         |ec AS (SELECT e.g, e.i FROM e JOIN cnt USING (g) WHERE cnt.k <= $commonCap),
         |deg AS (SELECT i, count(*) AS d FROM ec GROUP BY i),
         |pairs AS (SELECT a.i AS i1, b.i AS i2, count(*) AS common
         |          FROM ec a JOIN ec b ON a.g = b.g AND a.i < b.i
         |          GROUP BY a.i, b.i)
         |SELECT p.i1, p.i2, CAST(p.common AS BIGINT) AS common,
         |  round(p.common*1.0/least(d1.d, d2.d), 6) AS overlap
         |FROM pairs p JOIN deg d1 ON d1.i = p.i1 JOIN deg d2 ON d2.i = p.i2
         |ORDER BY overlap DESC, p.i1, p.i2 LIMIT 50""".stripMargin,
    "graph_pagerank" -> pagerankOracle,
    // Natural a<b<c triple join — counts each triangle once, same totals as
    // the degree-ordered enumeration (which exists for scale, not results).
    "graph_triangles" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS (SELECT v, count(*) AS d FROM
        |  (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) t GROUP BY v),
        |tri AS (SELECT count(*) AS triangles
        |  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) FROM deg) AS wedges,
        |  CAST(triangles AS BIGINT) AS triangles,
        |  round(CAST(triangles AS DOUBLE) * 3.0
        |    / CAST((SELECT sum((d * (d - 1)) // 2) FROM deg) AS DOUBLE), 6) AS gcc
        |FROM tri""".stripMargin,
    "graph_degree" ->
      s"""WITH $edgeSql
         |SELECT deg AS degree, count(*) AS n_nodes
         |FROM deg GROUP BY deg ORDER BY degree""".stripMargin,
    // min-hop levels: the recursive UNION dedups (node, level) rows against
    // everything generated so far, the level-bound guard terminates it, and
    // min(level) per node collapses late sightings — the same min-hop
    // semantics the Spark side gets from its visited anti-join
    "graph_bfs" ->
      s"""WITH RECURSIVE $edgeSql,
         |seed AS (SELECT min(src) AS node FROM e),
         |walk(node, level) AS (
         |  SELECT node, 0 FROM seed
         |  UNION
         |  SELECT e.dst, w.level + 1 FROM walk w JOIN e ON e.src = w.node
         |  WHERE w.level < $bfsRounds),
         |lv AS (SELECT node, min(level) AS level FROM walk GROUP BY node)
         |SELECT CAST(level AS BIGINT) AS level, count(*) AS nodes,
         |  min(node) AS min_node, max(node) AS max_node
         |FROM lv GROUP BY level ORDER BY level""".stripMargin
  )
}
