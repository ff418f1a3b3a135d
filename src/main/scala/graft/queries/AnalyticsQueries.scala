package graft.queries

import graft.{QueryDef, Tables}
import graft.graph.GraphAlgos
import graft.ops.{Funnel, Sketches}
import graft.pipeline.Curation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-level analytics gates: whole-graph algorithms (PageRank, triangle
  * counting), sketch cardinality (KMV), stratified sampling, funnel /
  * retention product analytics, and CUBE multi-level aggregation.
  *
  * Hash-exactness follows the PipelineQueries discipline: ranks and
  * estimates are fixed-point BIGINT (integer division replayed by DuckDB's
  * `//`), sampling uses the Knuth multiplicative hash, and float never
  * reaches a per-row decision or an aggregation.
  */
object AnalyticsQueries {

  private val Scale = 1000000000000L // PageRank fixed-point scale (1e12)
  private val KmvK = 64
  private val K = Curation.KnuthMult
  private val P = Curation.HashMod

  /** PageRank oracle: unrolled iterations of the identical integer update
    * over the symmetrized customer↔supplier order graph (customer c →
    * node 2c, supplier s → node 2s+1: disjoint id spaces). `weighted`
    * switches the contribution to rank * w DIV Σw with w = lineitem count
    * per pair; unweighted contributes rank DIV outdeg. */
  private def pagerankOracle(iters: Int, weighted: Boolean): String = {
    val pairsCte =
      if (weighted)
        s"""WITH pairs AS (
           |  SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s, COUNT(*) AS w
           |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           |  GROUP BY 1, 2),
           |edges AS (SELECT c AS src, s AS dst, w FROM pairs
           |          UNION ALL SELECT s, c, w FROM pairs),
           |deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM edges GROUP BY src),""".stripMargin
      else
        s"""WITH pairs AS (
           |  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
           |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
           |edges AS (SELECT c AS src, s AS dst FROM pairs
           |          UNION ALL SELECT s, c FROM pairs),
           |deg AS (SELECT src, COUNT(*) AS wsum FROM edges GROUP BY src),""".stripMargin
    val contrib = if (weighted) "(r.rank_fp * e.w) // d.wsum" else "r.rank_fp // d.wsum"
    val head = pairsCte +
      s"""
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |p AS (SELECT COUNT(*) AS n FROM nodes),
         |r0 AS (SELECT node, (SELECT $Scale // n FROM p) AS rank_fp FROM nodes)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, CAST(SUM($contrib) AS BIGINT) AS sc
         |  FROM edges e JOIN r${i - 1} r ON r.node = e.src
         |  JOIN deg d ON d.src = e.src GROUP BY e.dst),
         |r$i AS (SELECT n.node,
         |  (SELECT (15 * $Scale) // (100 * n) FROM p)
         |    + (85 * COALESCE(c.sc, 0)) // 100 AS rank_fp
         |  FROM nodes n LEFT JOIN c$i c ON c.node = n.node)""".stripMargin
    }.mkString(",\n", ",\n", "")
    head + iterCtes +
      s"\nSELECT node, rank_fp FROM r$iters ORDER BY rank_fp DESC, node LIMIT 20"
  }

  /** Deterministic 12.5 % edge sample of the (complete, in this synthetic
    * data) supplier co-supply graph: keep a pair iff the Knuth hash of its
    * pair key is ≡ 0 (mod 8). The pair key reduces a's hash mod P BEFORE
    * the final Knuth multiply — `(a*1000003+b)*K` would overflow Long once
    * suppkey exceeds ~3.4k (sf ≥ 1): Spark would wrap silently while
    * DuckDB errors. Every intermediate here stays < 1.1e15 and the final
    * multiplicand < P ≈ 1e9, so (x*K) < 2.7e18 ≪ 2^63 in both engines for
    * any id < ~3.4e9. Gives the triangle gate a graph with non-trivial
    * structure at the gated SFs (sf0.001's 10-supplier graph keeps a few
    * edges — legitimately triangle-poor). */
  private val pairKeep =
    s"(((((a * $K) % $P) * 1000003 + b) % $P) * $K) % $P % 8 = 0"

  /** The same keep decision as [[pairKeep]], Spark side. */
  private def pairKeepCol(a: org.apache.spark.sql.Column,
                          b: org.apache.spark.sql.Column) =
    Curation.idHash(pmod(Curation.idHash(a) * 1000003L + b, lit(P))) % 8 === 0

  // ---- shared edge sources (EdgeCache) -------------------------------
  // The eight fixpoint gates draw on two graphs; before r10 every gate
  // rebuilt its own copy — the r9 judge measured that rebuild as the
  // dominant share of the bench's iterative-family cost. Each source is
  // now a pure function of the parquet dir, built once per process and
  // pinned (graph/EdgeCache.scala); gates derive symmetrized/weighted
  // forms from the pinned pairs with narrow (union) or node-sized
  // (repartition) work only.

  /** Distinct (custkey·2, suppkey·2+1) pairs of the bipartite order graph
    * — customers and suppliers in disjoint id spaces. */
  private[queries] def bipartitePairs(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame =
    graft.graph.EdgeCache.cached(s, s"$d#bipartitePairs") {
      Tables.orders(s, d).join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
                (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
    }

  /** The same bipartite pairs pre-aggregated with lineitem multiplicity
    * (`w`) — the weighted random surfer's edge list. */
  private def bipartiteWeightedPairs(s: org.apache.spark.sql.SparkSession,
                                     d: String): org.apache.spark.sql.DataFrame =
    graft.graph.EdgeCache.cached(s, s"$d#bipartiteWeightedPairs") {
      Tables.orders(s, d).join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey") * 2).as("src"),
                 (col("l_suppkey") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("w"))
    }

  /** Canonical (a < b) hash-sampled co-supplier pairs (see [[pairKeep]]).
    * The lineitem self-join behind it is the single most expensive edge
    * build in the registry; five gates share this one materialization. */
  private[queries] def coSupplierPairs(s: org.apache.spark.sql.SparkSession,
                              d: String): org.apache.spark.sql.DataFrame =
    graft.graph.EdgeCache.cached(s, s"$d#coSupplierPairs") {
      // the (p, sk) pre-distinct and filter-before-dedup decisions carry
      // the r9 A/B evidence documented at the graph_triangles gate
      val ps = Tables.lineitem(s, d)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
      ps.join(ps.select(col("p"), col("sk").as("sk2")), "p")
        .filter(col("sk") < col("sk2"))
        .select(col("sk").as("a"), col("sk2").as("b"))
        .filter(pairKeepCol(col("a"), col("b")))
        .distinct()
    }

  /** Symmetrize canonical (a, b) pairs into a (src, dst) edge list. */
  private def symAB(pairs: org.apache.spark.sql.DataFrame) =
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))

  def defs: Map[String, QueryDef] = Map(

    // ---- fixed-point integer PageRank over the order graph ----
    "graph_pagerank" -> QueryDef.sql(
      (s, d) => {
        // distinct directed pairs (cached) symmetrized by union — the two
        // directions live in disjoint id spaces, so no second distinct
        val e = bipartitePairs(s, d)
        val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        GraphAlgos.pageRank(sym, iterations = 3, scale = Scale,
            dedup = false, assumeSymmetric = true, release = false)
          .orderBy(col("rank_fp").desc, col("node")).limit(20)
      },
      pagerankOracle(3, weighted = false)),

    // ---- PageRank over the PERSISTED edge table (graph/EdgeIndex —
    // the graph family's durable build-once artifact, same lifecycle as
    // Bm25Index/IvfIndex): the symmetrized, deduped, out-weighted edge
    // table is WRITTEN bucketed+sorted by src, re-opened through the
    // catalog as a later process would, and the identical fixed-point
    // iteration runs where every round's scatter join reads bucket-
    // co-located edges off the scan — zero edge-sized exchanges per
    // round (plan-locked in PlanPropertiesSpec). Same oracle as
    // graph_pagerank: persistence must not change a single bit. ----
    "graph_pagerank_persisted" -> QueryDef.sql(
      (s, d) => {
        val e = bipartitePairs(s, d)
        val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        graft.graph.EdgeIndex.write(sym, "pagerank_edges_gate", dedup = false)
        graft.graph.EdgeIndex.pageRank(s, "pagerank_edges_gate",
            iterations = 3, scale = Scale, release = false)
          .orderBy(col("rank_fp").desc, col("node")).limit(20)
          .localCheckpoint() // detach from the warehouse table
      },
      pagerankOracle(3, weighted = false)),

    // ---- weighted PageRank: the random surfer follows order VOLUME.
    // Same fixed-point arithmetic with contribution rank*w DIV Σw; the
    // pre-aggregated (pair, count) edge list IS the dedup ----
    "graph_pagerank_weighted" -> QueryDef.sql(
      (s, d) => {
        val pairs = bipartiteWeightedPairs(s, d)
        val sym = pairs.union(
          pairs.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        GraphAlgos.pageRank(sym, iterations = 3, scale = Scale,
            dedup = false, assumeSymmetric = true, weightCol = Some("w"),
            release = false)
          .orderBy(col("rank_fp").desc, col("node")).limit(20)
      },
      pagerankOracle(3, weighted = true)),

    // ---- synchronous label propagation (Raghavan et al. 2007) on the
    // customer–supplier bipartite graph: plurality vote per round, ties
    // to the smallest label — deterministic, so the oracle unrolls all 3
    // rounds and replays every vote bit-exactly. ----
    "graph_label_propagation" -> QueryDef.sql(
      (s, d) => {
        val e = bipartitePairs(s, d)
        val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        GraphAlgos.labelPropagation(sym, iterations = 3,
            dedup = false, assumeSymmetric = true, release = false)
          .orderBy(col("node"))
      },
      {
        def round(prev: String, cur: String) =
          s"""c$cur AS (SELECT e.dst AS node, l.label, COUNT(*) AS cnt
             |       FROM e JOIN l$prev l ON l.node = e.src GROUP BY 1, 2),
             |l$cur AS (SELECT node, (min(struct_pack(nc := -cnt, l := label))).l AS label
             |       FROM c$cur GROUP BY node)""".stripMargin
        s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
           |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
           |${round("0", "1")},
           |${round("1", "2")},
           |${round("2", "3")}
           |SELECT node, label AS community FROM l3 ORDER BY node""".stripMargin
      }),

    // ---- k-core peel (Seidman 1983), 3 synchronous rounds at k=11 on the
    // hash-sampled supplier co-part graph (the triangles gate's edge set —
    // homogeneous degrees around the threshold, so every round genuinely
    // cascades: 100 → 75 → 43 → 14 nodes at sf0.01). Each round is a
    // degree agg + two semi-joins; the edge set only shrinks. ----
    "graph_kcore" -> QueryDef.sql(
      (s, d) => {
        val sym = symAB(coSupplierPairs(s, d))
        GraphAlgos.kcorePeel(sym, k = 11, rounds = 3,
            dedup = false, assumeSymmetric = true)
          .orderBy(col("node"))
      },
      {
        def round(prev: String, cur: String) =
          s"""k$cur AS (SELECT src AS node FROM e$prev GROUP BY src HAVING COUNT(*) >= 11),
             |e$cur AS (SELECT e.src, e.dst FROM e$prev e
             |          JOIN k$cur x ON e.src = x.node JOIN k$cur y ON e.dst = y.node)""".stripMargin
        s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
           |raw AS (SELECT x.sk AS a, y.sk AS b
           |        FROM ps x JOIN ps y ON x.p = y.p AND x.sk < y.sk),
           |canon AS (SELECT DISTINCT a, b FROM raw WHERE $pairKeep),
           |e0 AS (SELECT a AS src, b AS dst FROM canon UNION ALL SELECT b AS src, a AS dst FROM canon),
           |${round("0", "1")},
           |${round("1", "2")},
           |${round("2", "3")}
           |SELECT src AS node, COUNT(*) AS degree FROM e3
           |GROUP BY src ORDER BY node""".stripMargin
      }),

    // ---- HITS hubs & authorities on the bipartite order graph
    // (GraphAlgos.hits): customers that buy broadly are hubs, suppliers
    // bought from widely are authorities; 3 fixed-point rounds with
    // DIV-max renormalization, every round unrolled in the oracle. ----
    "graph_hits" -> QueryDef.sql(
      (s, d) => {
        val e = bipartitePairs(s, d)
        val r = GraphAlgos.hits(e, iterations = 3)
        r.filter(col("role") === "hub")
          .orderBy(col("score_fp").desc, col("node")).limit(10)
          .unionByName(r.filter(col("role") === "authority")
            .orderBy(col("score_fp").desc, col("node")).limit(10))
          .orderBy(col("role"), col("score_fp").desc, col("node"))
      },
      {
        def round(p: Int, c: Int) =
          s"""h${c}r AS (SELECT e.src, CAST(SUM(a$p.a) AS BIGINT) AS h
             |  FROM e JOIN a$p ON a$p.node = e.dst GROUP BY e.src),
             |h$c AS MATERIALIZED (SELECT src AS node,
             |  (h * 1000000) // (SELECT MAX(h) FROM h${c}r) AS h FROM h${c}r),
             |a${c}r AS (SELECT e.dst, CAST(SUM(h$c.h) AS BIGINT) AS a
             |  FROM e JOIN h$c ON h$c.node = e.src GROUP BY e.dst),
             |a$c AS MATERIALIZED (SELECT dst AS node,
             |  (a * 1000000) // (SELECT MAX(a) FROM a${c}r) AS a FROM a${c}r)"""
            .stripMargin
        s"""WITH e AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |a0 AS (SELECT DISTINCT dst AS node, CAST(1000000 AS BIGINT) AS a FROM e),
           |${round(0, 1)},
           |${round(1, 2)},
           |${round(2, 3)},
           |hubs AS (SELECT node, 'hub' AS role, h AS score_fp FROM h3
           |         ORDER BY h DESC, node LIMIT 10),
           |auths AS (SELECT node, 'authority' AS role, a AS score_fp FROM a3
           |          ORDER BY a DESC, node LIMIT 10)
           |SELECT node, role, score_fp
           |FROM (SELECT * FROM auths UNION ALL SELECT * FROM hubs) z
           |ORDER BY role, score_fp DESC, node""".stripMargin
      }),

    // ---- multi-source BFS hop distance on the sampled co-supplier graph
    // (GraphAlgos.bfsLayers): seeds = nodes ≡ 0 (mod 97), 3 bounded
    // rounds; the oracle unrolls each min-relaxation round (materialized
    // CTEs: each round references the previous one twice). ----
    "graph_bfs_layers" -> QueryDef.sql(
      (s, d) => {
        val sym = symAB(coSupplierPairs(s, d))
        val seeds = sym.select(col("src").as("node")).distinct()
          .filter(col("node") % 97 === 0)
        GraphAlgos.bfsLayers(sym, seeds, rounds = 3,
            dedup = false, assumeSymmetric = true)
          .orderBy(col("node"))
      },
      {
        def round(prev: String, cur: String) =
          s"""d$cur AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
             |  SELECT node, dist FROM d$prev
             |  UNION ALL
             |  SELECT e.dst, d.dist + 1 FROM d$prev d JOIN e0 e ON e.src = d.node) u
             |GROUP BY node)""".stripMargin
        s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
           |raw AS (SELECT x.sk AS a, y.sk AS b
           |        FROM ps x JOIN ps y ON x.p = y.p AND x.sk < y.sk),
           |canon AS (SELECT DISTINCT a, b FROM raw WHERE $pairKeep),
           |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM canon
           |                    UNION ALL SELECT b, a FROM canon),
           |d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
           |       FROM e0 WHERE src % 97 = 0),
           |${round("0", "1")},
           |${round("1", "2")},
           |${round("2", "3")}
           |SELECT node, dist FROM d3 ORDER BY node""".stripMargin
      }),

    // ---- bounded-hop weighted shortest paths (GraphAlgos.shortestPaths,
    // min-plus Bellman-Ford): integer pair weights 1 + (a+b) mod 5 on the
    // sampled co-supplier graph, same seeds as the BFS gate, 3 relaxation
    // rounds unrolled in the oracle — the weighted generalization of
    // graph_bfs_layers, every relaxation replayed bit-exactly. ----
    "graph_shortest_path" -> QueryDef.sql(
      (s, d) => {
        val pairs = coSupplierPairs(s, d)
          .withColumn("w", lit(1L) + (col("a") + col("b")) % 5)
        val sym = pairs.select(col("a").as("src"), col("b").as("dst"), col("w"))
          .union(pairs.select(col("b").as("src"), col("a").as("dst"), col("w")))
        val seeds = sym.select(col("src").as("node")).distinct()
          .filter(col("node") % 97 === 0)
        GraphAlgos.shortestPaths(sym, seeds, rounds = 3,
            dedup = false, assumeSymmetric = true)
          .orderBy(col("node"))
      },
      {
        def round(prev: String, cur: String) =
          s"""d$cur AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
             |  SELECT node, dist FROM d$prev
             |  UNION ALL
             |  SELECT e.dst, d.dist + e.w FROM d$prev d JOIN e0 e ON e.src = d.node) u
             |GROUP BY node)""".stripMargin
        s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
           |raw AS (SELECT x.sk AS a, y.sk AS b
           |        FROM ps x JOIN ps y ON x.p = y.p AND x.sk < y.sk),
           |canon AS (SELECT DISTINCT a, b FROM raw WHERE $pairKeep),
           |e0 AS MATERIALIZED (
           |  SELECT a AS src, b AS dst, 1 + (a + b) % 5 AS w FROM canon
           |  UNION ALL SELECT b, a, 1 + (a + b) % 5 FROM canon),
           |d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
           |       FROM e0 WHERE src % 97 = 0),
           |${round("0", "1")},
           |${round("1", "2")},
           |${round("2", "3")}
           |SELECT node, dist FROM d3 ORDER BY node""".stripMargin
      }),

    // ---- deterministic random walks (GraphAlgos.randomWalks): hash-
    // driven neighbor choice over the dst-sorted adjacency — DeepWalk-
    // style corpus generation with zero RNG state. The oracle rebuilds
    // the indexed adjacency and unrolls all 3 hops with the same hash
    // arithmetic. ----
    "graph_random_walks" -> QueryDef.sql(
      (s, d) => {
        val sym = symAB(coSupplierPairs(s, d))
        val seeds = sym.select(col("src").as("node")).distinct()
          .filter(col("node") % 97 === 0)
        GraphAlgos.randomWalks(sym, seeds, steps = 3,
            dedup = false, assumeSymmetric = true)
          .orderBy(col("seed"), col("step"))
      },
      {
        def hop(prev: String, t: Int) =
          s"""w$t AS MATERIALIZED (SELECT w.seed, $t AS step, n.dst AS node
             |  FROM $prev w JOIN deg d ON d.src = w.node
             |  JOIN nbr n ON n.src = w.node
             |   AND n.idx = ((w.node * $K + ${t * 1000003L}) % $P) % d.deg)"""
            .stripMargin
        s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
           |raw AS (SELECT x.sk AS a, y.sk AS b
           |        FROM ps x JOIN ps y ON x.p = y.p AND x.sk < y.sk),
           |canon AS (SELECT DISTINCT a, b FROM raw WHERE $pairKeep),
           |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM canon
           |                    UNION ALL SELECT b, a FROM canon),
           |nbr AS MATERIALIZED (SELECT src, dst,
           |         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
           |       FROM e0),
           |deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY src),
           |w0 AS (SELECT src AS seed, 0 AS step, src AS node
           |       FROM (SELECT DISTINCT src FROM e0 WHERE src % 97 = 0) s),
           |${hop("w0", 1)},
           |${hop("w1", 2)},
           |${hop("w2", 3)}
           |SELECT seed, step, node
           |FROM (SELECT * FROM w0 UNION ALL SELECT * FROM w1
           |      UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3) u
           |ORDER BY seed, step""".stripMargin
      }),

    // ---- resource-allocation link prediction (Zhou/Lü/Zhang 2009):
    // RA(a,b) = Σ_z 1/deg(z) over common neighbors, held exactly as
    // Σ 10⁶ DIV deg(z). Wedge fan-out is bounded by the bottom-64
    // neighbors (by id) per center — the deterministic capped-list
    // discipline of neighbor-jaccard (a deg-threshold exclusion instead
    // would empty out at larger SFs where every center is a hub); the
    // 1/deg weight still reflects the TRUE degree. Existing edges
    // anti-joined away. ----
    "graph_resource_alloc" -> QueryDef.sql(
      (s, d) => {
        val pairs = coSupplierPairs(s, d)
        val sym = symAB(pairs)
        val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        // checkpoint: en sits on BOTH sides of the wedge self-join — without
        // this the sampled-pairs build runs twice (measured 58 exchanges)
        val en = sym
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("src")).orderBy(col("dst"))))
          .filter(col("__rn") <= 64)
          .join(deg, "src")
          .select(col("src").as("z"), col("dst").as("n"),
            expr("1000000 DIV deg").as("w"))
          .localCheckpoint()
        val ra = en.select(col("z"), col("n").as("pa"), col("w"))
          .join(en.select(col("z"), col("n").as("pb")), "z")
          .filter(col("pa") < col("pb"))
          .groupBy(col("pa"), col("pb"))
          .agg(sum(col("w")).as("ra_fp"), count(lit(1)).as("n_common"))
        ra.join(pairs,
            ra("pa") === pairs("a") && ra("pb") === pairs("b"), "left_anti")
          .orderBy(col("ra_fp").desc, col("pa"), col("pb")).limit(20)
      },
      s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
         |raw AS (SELECT x.sk AS a, y.sk AS b
         |        FROM ps x JOIN ps y ON x.p = y.p AND x.sk < y.sk),
         |canon AS (SELECT DISTINCT a, b FROM raw WHERE $pairKeep),
         |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM canon
         |                    UNION ALL SELECT b, a FROM canon),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY src),
         |nb AS (SELECT src, dst,
         |         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
         |       FROM e0),
         |en AS MATERIALIZED (SELECT e.src AS z, e.dst AS n, 1000000 // d.deg AS w
         |      FROM nb e JOIN deg d ON d.src = e.src
         |      WHERE e.rn <= 64),
         |ra AS (SELECT x.n AS pa, y.n AS pb,
         |         CAST(SUM(x.w) AS BIGINT) AS ra_fp, COUNT(*) AS n_common
         |       FROM en x JOIN en y ON x.z = y.z AND x.n < y.n
         |       GROUP BY 1, 2)
         |SELECT pa, pb, ra_fp, n_common FROM ra
         |WHERE NOT EXISTS (SELECT 1 FROM canon c
         |                  WHERE c.a = ra.pa AND c.b = ra.pb)
         |ORDER BY ra_fp DESC, pa, pb LIMIT 20""".stripMargin),

    // ---- last-touch attribution: every purchase as-of joined to the
    // user's latest click within 1 h (ops/AsOfJoin tolerance), rolled up
    // to a per-day conversion report with fixed-point mean click→purchase
    // lag. Oracle: DuckDB native ASOF LEFT JOIN + the same staleness CASE
    // + the same integer rollup. ----
    "events_attribution" -> QueryDef.sql(
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts_us").as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts_us").as("c_us"))
        graft.ops.AsOfJoin.latestPriorTo(purchases, clicks, "user_id",
            "p_us", "c_us", tolerance = Some(3600000000L))
          .groupBy(expr("p_us DIV 86400000000").as("day"))
          .agg(count(lit(1)).as("n_purchases"),
               count(col("click_id")).as("n_attributed"),
               coalesce(sum(col("p_us") - col("c_us")), lit(0L)).as("lag_sum_us"))
          .select(col("day"), col("n_purchases"), col("n_attributed"),
            when(col("n_attributed") > 0,
              expr("lag_sum_us DIV n_attributed")).otherwise(lit(0L))
              .as("avg_lag_us"))
          .orderBy(col("day"))
      },
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, ts_us AS p_us FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, ts_us AS c_us FROM ev WHERE event_type = 'click'),
        |j AS (SELECT p.purchase_id, p.p_us,
        |        CASE WHEN c_us >= p_us - 3600000000 THEN click_id END AS click_id,
        |        CASE WHEN c_us >= p_us - 3600000000 THEN c_us END AS c_us
        |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.p_us >= c.c_us),
        |g AS (SELECT p_us // 86400000000 AS day, COUNT(*) AS n_purchases,
        |        COUNT(click_id) AS n_attributed,
        |        CAST(COALESCE(SUM(p_us - c_us), 0) AS BIGINT) AS lag_sum
        |      FROM j GROUP BY 1)
        |SELECT day, n_purchases, n_attributed,
        |  CASE WHEN n_attributed > 0 THEN lag_sum // n_attributed
        |       ELSE 0 END AS avg_lag_us
        |FROM g ORDER BY day""".stripMargin),

    // ---- degree-oriented triangle counting on a hash-sampled graph ----
    "graph_triangles" -> QueryDef.sql(
      (s, d) => {
        // (p, sk) pre-distinct + filter-before-dedup decisions live in
        // coSupplierPairs — an r9 A/B (2 runs each, matched load) measured
        // the no-distinct variant ~15% SLOWER despite its one-fewer-
        // exchange plan: the deduped, (p,sk)-aggregated build side joins
        // faster than the raw scan's duplicate key groups
        val pairs = coSupplierPairs(s, d)
        GraphAlgos.triangleCounts(
            pairs.select(col("a").as("src"), col("b").as("dst")),
            assumeCanonical = true)
          .orderBy(col("n_triangles").desc, col("node")).limit(50)
      },
      s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
         |raw AS (SELECT x.sk AS a, y.sk AS b
         |        FROM ps x JOIN ps y ON x.p = y.p AND x.sk < y.sk),
         |canon AS (SELECT DISTINCT a, b FROM raw WHERE $pairKeep),
         |deg AS (SELECT node, COUNT(*) AS deg FROM
         |          (SELECT a AS node FROM canon UNION ALL SELECT b FROM canon) e
         |        GROUP BY node),
         |flg AS (SELECT c.a, c.b, da.deg AS dega, db.deg AS degb,
         |          (da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)) AS afirst
         |        FROM canon c JOIN deg da ON da.node = c.a
         |                     JOIN deg db ON db.node = c.b),
         |o AS (SELECT CASE WHEN afirst THEN a ELSE b END AS src,
         |             CASE WHEN afirst THEN b ELSE a END AS dst,
         |             CASE WHEN afirst THEN degb ELSE dega END AS ddst
         |      FROM flg),
         |tri AS (SELECT w1.u AS u, w1.v AS v, w2.w AS w
         |        FROM (SELECT src AS u, dst AS v, ddst AS dv FROM o) w1
         |        JOIN (SELECT src AS u, dst AS w, ddst AS dw FROM o) w2 ON w1.u = w2.u
         |        JOIN o e ON e.src = w1.v AND e.dst = w2.w
         |        WHERE (w1.dv < w2.dw OR (w1.dv = w2.dw AND w1.v < w2.w))),
         |cnt AS (SELECT node, COUNT(*) AS n_triangles FROM
         |          (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
         |           UNION ALL SELECT w FROM tri) t
         |        GROUP BY node)
         |SELECT node, n_triangles FROM cnt
         |ORDER BY n_triangles DESC, node LIMIT 50""".stripMargin),

    // ---- neighbor-set Jaccard (link prediction) on the sampled graph ----
    "graph_neighbor_jaccard" -> QueryDef.sql(
      (s, d) => {
        val pairs = coSupplierPairs(s, d)
        // default 1024-neighbor hub cap: non-binding at the gated SFs
        // (max degree ~125 at sf0.1) but the oracle replays the SAME
        // bottom-k rank filter, so the capped semantics stays green if
        // the scale grows past the cap
        GraphAlgos.neighborJaccard(
            pairs.select(col("a").as("src"), col("b").as("dst")))
          .orderBy(col("jaccard_e6").desc, col("a"), col("b")).limit(100)
      },
      s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
         |raw AS (SELECT x.sk AS a, y.sk AS b
         |        FROM ps x JOIN ps y ON x.p = y.p AND x.sk < y.sk),
         |canon AS (SELECT DISTINCT a, b FROM raw WHERE $pairKeep),
         |adj AS (SELECT a AS u, b AS v FROM canon
         |        UNION ALL SELECT b, a FROM canon),
         |deg AS (SELECT u, COUNT(*) AS deg FROM adj GROUP BY u),
         |adjc AS (SELECT u, v FROM (
         |    SELECT u, v, row_number() OVER (
         |        PARTITION BY u ORDER BY (v * $K) % $P, v) AS rn
         |    FROM adj) r WHERE rn <= 1024),
         |cm AS (SELECT w1.v AS a, w2.v AS b, COUNT(*) AS common
         |       FROM adjc w1 JOIN adjc w2 ON w1.u = w2.u AND w1.v < w2.v
         |       GROUP BY 1, 2)
         |SELECT c.a, c.b, c.common,
         |  (c.common * 1000000) // (da.deg + db.deg - c.common) AS jaccard_e6
         |FROM cm c JOIN deg da ON da.u = c.a JOIN deg db ON db.u = c.b
         |ORDER BY jaccard_e6 DESC, a, b LIMIT 100""".stripMargin),

    // ---- KMV distinct-count sketch vs exact, per event type ----
    "sketch_kmv_distinct" -> QueryDef.sql(
      (s, d) => Sketches.kmvDistinct(Tables.events(s, d),
        "event_type", "user_id", k = KmvK),
      s"""WITH hashed AS (SELECT DISTINCT event_type,
         |    (user_id * $K) % $P AS h FROM events),
         |mins AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM hashed),
         |sk AS (SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS kth_hash
         |       FROM mins WHERE rn <= $KmvK GROUP BY event_type),
         |ex AS (SELECT event_type, COUNT(*) AS exact_distinct
         |       FROM hashed GROUP BY event_type),
         |est AS (SELECT event_type, n_kept, kth_hash,
         |    CASE WHEN n_kept < $KmvK THEN n_kept
         |         ELSE ${(KmvK - 1).toLong * P} // kth_hash END AS est_distinct,
         |    exact_distinct
         |  FROM sk JOIN ex USING (event_type))
         |SELECT event_type, n_kept, kth_hash, est_distinct, exact_distinct,
         |  (abs(est_distinct - exact_distinct) * 1000000) // exact_distinct AS err_ppm
         |FROM est ORDER BY event_type""".stripMargin),

    // ---- Count-Min frequency sketch vs exact, top-20 corpus terms ----
    "sketch_countmin_freq" -> QueryDef.sql(
      (s, d) => {
        graft.functions.F.ensureRegistered(s)
        val occ = Tables.documents(s, d)
          .select(explode(graft.functions.F.tokens(col("text"))).as("term"))
        Sketches.countMinTopK(occ, "term", k = 20)
      },
      s"""WITH toks AS (SELECT doc_id, ${DedupQueries.duckToks} AS tk FROM documents),
         |occ AS (SELECT unnest(tk) AS term FROM toks),
         |h AS (SELECT term, ${DedupQueries.duckPoly("term")} AS h64 FROM occ),
         |cnt AS (SELECT i, ((h64 * ($K + i * 1000003) + 11 + 7 * i) % $P) % 8192 AS bucket,
         |          COUNT(*) AS c
         |        FROM h, (SELECT unnest(range(4)) AS i) ii GROUP BY 1, 2),
         |top AS (SELECT term, h64, COUNT(*) AS n_exact FROM h GROUP BY term, h64
         |        ORDER BY n_exact DESC, term LIMIT 20),
         |probe AS (SELECT t.term, t.n_exact, ii.i,
         |            ((t.h64 * ($K + ii.i * 1000003) + 11 + 7 * ii.i) % $P) % 8192 AS bucket
         |          FROM top t, (SELECT unnest(range(4)) AS i) ii),
         |est AS (SELECT p.term, p.n_exact, MIN(c.c) AS est
         |        FROM probe p JOIN cnt c ON c.i = p.i AND c.bucket = p.bucket
         |        GROUP BY 1, 2)
         |SELECT term, n_exact, est, est - n_exact AS overcount
         |FROM est ORDER BY n_exact DESC, term""".stripMargin),

    // ---- deterministic stratified sample: 40 docs per language ----
    "pipe_stratified_sample" -> QueryDef.sql(
      (s, d) => Curation.stratifiedSample(Tables.documents(s, d),
          "doc_id", "lang", nPerStratum = 40)
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id"),
      s"""SELECT lang, doc_id FROM (
         |  SELECT lang, doc_id, row_number() OVER (
         |      PARTITION BY lang ORDER BY (doc_id * $K) % $P, doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= 40 ORDER BY lang, doc_id""".stripMargin),

    // ---- strict-order funnel: signup → view → click → purchase ----
    "events_funnel" -> QueryDef.sql(
      (s, d) => Funnel.conversion(Tables.events(s, d), "user_id", "ts",
        "event_type", Seq("signup", "view", "click", "purchase")),
      """WITH s1 AS (SELECT user_id, MIN(epoch_us(ts)) AS t FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
        |       FROM events e JOIN s1 ON s1.user_id = e.user_id
        |       WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s1.t
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
        |       FROM events e JOIN s2 ON s2.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s2.t
        |       GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
        |       FROM events e JOIN s3 ON s3.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s3.t
        |       GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'signup' AS step_name, COUNT(*) AS n_users FROM s1
        |  UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
        |  UNION ALL SELECT 3, 'click', COUNT(*) FROM s3
        |  UNION ALL SELECT 4, 'purchase', COUNT(*) FROM s4) u
        |ORDER BY step""".stripMargin),

    // ---- day-grain cohort retention matrix ----
    "events_retention" -> QueryDef.sql(
      (s, d) => Funnel.retention(Tables.events(s, d), "user_id", "ts"),
      """WITH activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |                  FROM events),
        |firstday AS (SELECT user_id, MIN(d) AS d0 FROM activity GROUP BY user_id)
        |SELECT epoch_us(CAST(f.d0 AS TIMESTAMP)) AS cohort_us,
        |  CAST(a.d - f.d0 AS BIGINT) AS day_offset, COUNT(*) AS n_active
        |FROM activity a JOIN firstday f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_us, day_offset""".stripMargin),

    // ---- sliding event-time window: per-user 1-hour moving totals.
    // RANGE frame over epoch-micros (order-independent decimal sums →
    // replayable); partitioned by user, so the window state is one user's
    // hour, never the corpus ----
    "events_moving_window" -> QueryDef.sql(
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"),
            col("value").cast(DecimalType(18, 4)).as("v"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts_us"))
          .rangeBetween(-3600000000L, 0L)
        ev.select(col("user_id"), col("event_id"), col("ts_us"),
            count(lit(1)).over(w).as("n_1h"),
            (sum(col("v")).over(w) * 10000).cast("long").as("sum_1h_e4"))
          .orderBy(col("user_id"), col("ts_us"), col("event_id"))
      },
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w * 10000 AS BIGINT) AS sum_1h_e4
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    // ---- z-score outlier detection per event type: the data-quality
    // "which readings are anomalous" pass. Moments come from EXACT
    // decimal sums (order-independent), then one IEEE-identical double
    // formula — the same discipline as text_readability's formula ----
    "events_zscore_outliers" -> QueryDef.sql(
      (s, d) => {
        val ev = Tables.events(s, d)
        // e4 fixed-point value → BIGINT moment sums (exact, order-free);
        // the float formula runs once over those integers
        val v4 = (col("value").cast(DecimalType(18, 4)) * 10000).cast("long")
        // q8 accumulates in DECIMAL(38,0): v4² ≤ 1e14 per row, so a BIGINT
        // sum overflows around 1e5 rows/type while DuckDB silently widens
        // to HUGEINT — both engines now keep the exact integer and convert
        // to double once, at the formula
        val stats = ev.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(v4).as("s4"),
          sum((v4 * v4).cast(DecimalType(38, 0))).as("q8"))
          .withColumn("mean",
            col("s4").cast("double") / (col("n") * lit(10000.0)))
          .withColumn("std",
            sqrt(greatest(
              col("q8").cast("double") / (col("n") * lit(100000000.0))
                - col("mean") * col("mean"), lit(0.0))))
        ev.join(stats.select("event_type", "mean", "std"), "event_type")
          .withColumn("z", round(
            when(col("std") === 0.0, lit(0.0))
              .otherwise((col("value") - col("mean")) / col("std")), 4))
          .select(col("event_id"), col("event_type"), col("value"), col("z"))
          .orderBy(abs(col("z")).desc, col("event_id")).limit(20)
      },
      """WITH v AS (SELECT event_id, event_type, value,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v4
        |  FROM events),
        |stats AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(v4) AS BIGINT) AS s4,
        |    SUM(v4 * v4) AS q8
        |  FROM v GROUP BY event_type),
        |m AS (SELECT event_type,
        |        CAST(s4 AS DOUBLE) / (n * CAST(10000.0 AS DOUBLE)) AS mean,
        |        sqrt(GREATEST(CAST(q8 AS DOUBLE) / (n * CAST(100000000.0 AS DOUBLE))
        |          - (CAST(s4 AS DOUBLE) / (n * CAST(10000.0 AS DOUBLE)))
        |            * (CAST(s4 AS DOUBLE) / (n * CAST(10000.0 AS DOUBLE))), 0.0)) AS std
        |      FROM stats)
        |SELECT e.event_id, e.event_type, e.value,
        |  ROUND(CASE WHEN m.std = 0.0 THEN 0.0
        |             ELSE (e.value - m.mean) / m.std END, 4) AS z
        |FROM events e JOIN m USING (event_type)
        |ORDER BY abs(z) DESC, event_id LIMIT 20""".stripMargin),

    // ---- MAD robust outliers (Iglewicz–Hoaglin modified z-score): the
    // median-based alternative to events_zscore_outliers that a single
    // wild value cannot poison. Both medians run over integers — v4 is
    // e4 fixed-point, and the deviation is doubled (|2·v4 − 2·med4|) so
    // it stays exactly integer even when the even-count median lands on
    // a half — which keeps every percentile interpolation double-exact
    // across engines (the rel_quantiles parity). ----
    // ---- STREAMING windowed counts through the oracle gate: a genuine
    // Structured Streaming query (readStream → watermark → window agg →
    // memory sink, AvailableNow) whose drained complete-mode result must
    // hash-match the DuckDB batch aggregate — the streaming execution
    // path itself under the same bit-exactness contract as every batch
    // gate. ----
    "stream_windowed_counts" -> QueryDef.sql(
      (s, d) => graft.streaming.StreamingIngest
        .runWindowedOnce(s, d, "events.parquet", "1 day")
        .select(unix_micros(col("window_start")).as("ws_us"),
          col("event_type"), col("n"), col("value_e4"))
        .orderBy(col("ws_us"), col("event_type")),
      """SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS ws_us,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS value_e4
        |FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type""".stripMargin),

    // ---- STREAMING stream-stream interval join through the oracle gate
    // (the F6 temporal-overlap join's streaming form, ST4+J-family): view
    // events correlate with purchases by the same user within 10 minutes,
    // as a GENUINE watermarked stream-stream join drained by AvailableNow
    // — the append-mode result must hash-match DuckDB's batch interval
    // join. Both watermarks bound the join state (left rows drop once the
    // right watermark passes ts + within), so this is the plan a 100 TB
    // event correlation runs unbounded. ----
    "stream_interval_join" -> QueryDef.sql(
      (s, d) => graft.streaming.StreamingIngest
        .runCorrelateOnce(s, d, "events.parquet",
          leftType = "view", rightType = "purchase",
          within = "10 minutes", watermark = "1 day")
        .select(col("l_id").as("view_id"), col("r_id").as("purchase_id"),
          col("user_id"),
          unix_micros(col("lts")).as("v_us"), unix_micros(col("rts")).as("p_us"))
        .orderBy(col("view_id"), col("purchase_id")),
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |  v.user_id, epoch_us(v.ts) AS v_us, epoch_us(p.ts) AS p_us
        |FROM events v JOIN events p
        |  ON p.user_id = v.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
        |ORDER BY view_id, purchase_id""".stripMargin),

    // ---- ST1+ST2 end-to-end through the oracle gate: real text files on
    // disk → Structured Streaming file source (AvailableNow, checkpointed)
    // → parquet frame sink → anti-join enrichment stage, run TWICE to
    // prove idempotence (second pass must find 0 un-enriched frames —
    // emitted as a locked column). Fixture files carry the documents'
    // single-lined text, so the oracle recomputes every token count and
    // content hash straight from the table: a drop, re-ingest, or
    // re-enrichment anywhere in the WAL→index→enrich chain breaks the
    // hash. ----
    "stream_ingest_enrich" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft-st1") { dir =>
        val tmp = java.nio.file.Paths.get(dir)
        val in = tmp.resolve("in"); java.nio.file.Files.createDirectories(in)
        val fixture = Tables.documents(s, d).filter(col("doc_id") < 40)
          .select(col("doc_id"),
            regexp_replace(col("text"), "[\\n\\r]+", " ").as("line"))
          .collect() // bounded: ≤ 40 rows, the media-gate fixture budget
        fixture.foreach { r =>
          java.nio.file.Files.writeString(
            in.resolve(s"doc_${r.getLong(0)}.txt"), r.getString(1))
        }
        val frames = tmp.resolve("frames").toString
        val q = graft.streaming.StreamingIngest.ingestFiles(
          s, in.toString, frames, tmp.resolve("ck").toString)
        q.awaitTermination()
        val sk = tmp.resolve("sk").toString
        val log = tmp.resolve("log").toString
        graft.streaming.StreamingIngest.enrichIncrement(s, frames, sk, log)
        val secondPass = // idempotence: the log anti-join leaves nothing
          graft.streaming.StreamingIngest.enrichIncrement(s, frames, sk, log)
        s.read.parquet(sk)
          .select(regexp_extract(col("uri"), "doc_(\\d+)\\.txt$", 1)
              .cast("long").as("doc_id"),
            size(col("tokens")).as("n_tok"),
            col("contentHash").as("content_hash"),
            lit(secondPass).as("second_pass_new"))
          .orderBy(col("doc_id"))
      },
      s"""SELECT doc_id,
         |  CAST(len(${DedupQueries.duckToks.replace("text", "line")}) AS INT) AS n_tok,
         |  ${DedupQueries.duckPoly("line")} AS content_hash,
         |  CAST(0 AS BIGINT) AS second_pass_new
         |FROM (SELECT doc_id,
         |        regexp_replace(text, '[\\n\\r]+', ' ', 'g') AS line
         |      FROM documents WHERE doc_id < 40) z
         |ORDER BY doc_id""".stripMargin),

    // ---- streaming exact dedup drained vs batch DISTINCT (the streaming
    // form of the ingest dedup short-circuit, mutation.rs:3300-3316,
    // previously StreamingSpec-only): the documents table — which
    // CONTAINS duplicate texts by construction — streams through a
    // watermarked dropDuplicates(contentHash) and the surviving hash set
    // must equal DuckDB's batch DISTINCT; n_source on every row locks
    // that real duplicates were dropped (survivors < source rows). ----
    "stream_dedup_drain" -> QueryDef.sql(
      (s, d) => {
        val srcCount = Tables.documents(s, d).count()
        graft.streaming.StreamingIngest
          .runDedupOnce(s, d, "documents.parquet", "text", "doc_id")
          .select(col("contentHash").as("content_hash"))
          .withColumn("n_source", lit(srcCount))
          .orderBy(col("content_hash"))
      },
      s"""WITH h AS (SELECT ${DedupQueries.duckPoly("text")} AS content_hash
         |           FROM documents),
         |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_source FROM h)
         |SELECT DISTINCT content_hash, n_source FROM h, c
         |ORDER BY content_hash""".stripMargin),

    // ---- ST1 durability: checkpointed file-source stream KILLED mid-
    // drain, resumed with AvailableNow, final sink hash-equal to the
    // batch result (the streaming analogue of the reference's
    // crash_recovery/doctor_recovery tests). 24 files with strictly
    // increasing mtimes drain in three 8-file micro-batches; a poison
    // hook detonates on the LAST file, so batches 0-1 are committed and
    // batch 2 dies mid-write (task files may be orphaned in the sink
    // dir — recovery must serve only the transaction log). 8 more files
    // arrive during the outage; the disarmed restart replays the failed
    // batch from the checkpoint and drains the arrivals. The oracle is
    // the plain batch answer over all 32 docs, plus crashed=TRUE
    // asserting the injection really fired: a duplicate row (orphan part
    // file read), a lost row (offset skipped), or a crash-free first run
    // all fail the hash. ----
    "stream_restart_recovery" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft-st-recover") { dir =>
        val tmp = java.nio.file.Paths.get(dir)
        val in = tmp.resolve("in"); java.nio.file.Files.createDirectories(in)
        val sink = tmp.resolve("sink").toString
        val ck = tmp.resolve("ck").toString
        val fixture = Tables.documents(s, d).filter(col("doc_id") < 32)
          .select(col("doc_id"),
            regexp_replace(col("text"), "[\\n\\r]+", " ").as("line"))
          .collect().sortBy(_.getLong(0))
        def writeDoc(r: org.apache.spark.sql.Row): Unit = {
          val p = in.resolve(f"doc_${r.getLong(0)}%03d.txt")
          java.nio.file.Files.writeString(p, r.getString(1))
          // mtime ladder fixes micro-batch composition (file source
          // processes oldest-first): poison file lands in the LAST batch
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime
              .fromMillis(1700000000000L + r.getLong(0) * 2000))
        }
        fixture.take(24).foreach(writeDoc)
        def run(): org.apache.spark.sql.streaming.StreamingQuery =
          s.readStream.format("text").option("maxFilesPerTrigger", 8)
            .load(in.toString)
            .withColumn("uri", input_file_name())
            .withColumn("text", graft.streaming.StreamingIngest
              .poisonCheck(col("uri"), col("value")))
            .drop("value")
            .writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        graft.streaming.StreamingIngest.poisonUri = Some("doc_023")
        // only the INJECTED failure counts as the crash under test; an
        // unrelated first-run failure must surface, not masquerade as
        // the poison (r11 ADVICE)
        def isInjected(t: Throwable): Boolean =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
            .exists(c => Option(c.getMessage).exists(_.contains("injected crash at")))
        val crashed =
          try { run().awaitTermination(); false }
          catch {
            case t: Throwable if isInjected(t) => true
            case t: Throwable => throw t
          }
        graft.streaming.StreamingIngest.poisonUri = None
        fixture.drop(24).foreach(writeDoc) // arrivals during the outage
        run().awaitTermination()
        graft.functions.F.ensureRegistered(s)
        s.read.parquet(sink) // batch read serves the sink's txn log only
          .select(regexp_extract(col("uri"), "doc_(\\d+)\\.txt$", 1)
              .cast("long").as("doc_id"),
            size(graft.functions.F.tokens(col("text"))).as("n_tok"),
            graft.functions.F.polyHash(col("text")).as("content_hash"))
          .withColumn("crashed_mid_drain", lit(crashed))
          .orderBy(col("doc_id"))
      },
      s"""SELECT doc_id,
         |  CAST(len(${DedupQueries.duckToks.replace("text", "line")}) AS INT) AS n_tok,
         |  ${DedupQueries.duckPoly("line")} AS content_hash,
         |  TRUE AS crashed_mid_drain
         |FROM (SELECT doc_id,
         |        regexp_replace(text, '[\\n\\r]+', ' ', 'g') AS line
         |      FROM documents WHERE doc_id < 32) z
         |ORDER BY doc_id""".stripMargin),

    // ---- streaming maintenance of the PERSISTED BM25 index (the
    // reference updates Tantivy WITHIN the frame commit —
    // src/memvid/search/builders.rs:12-44 — so the durable index tracks
    // ingest; Spark-native form: foreachBatch → Bm25Index.append per
    // micro-batch, idempotent via the index's own doc_id set as the
    // enrichment manifest): 40 real text files drain in 8-file
    // micro-batches (multi_batch locks that >= 3 batches really ran —
    // a one-batch drain would prove nothing), each batch appends its
    // postings into the bucketed table, and the final scoring page must
    // hash-equal the full-corpus batch rebuild replayed by the oracle.
    // A dropped batch, a double-appended replay, or a bucket-spec drift
    // all fail the hash. ----
    "stream_bm25_append" -> QueryDef.sql(
      (s, d) => Scratch(s, "graft-st-bm25", "stream_bm25_gate") { dir =>
        val tmp = java.nio.file.Paths.get(dir)
        val in = tmp.resolve("in"); java.nio.file.Files.createDirectories(in)
        Tables.documents(s, d).filter(col("doc_id") < 40)
          .select(col("doc_id"),
            regexp_replace(col("text"), "[\\n\\r]+", " ").as("line"))
          .collect() // bounded: ≤ 40 rows, the stream-gate fixture budget
          .foreach { r =>
            java.nio.file.Files.writeString(
              in.resolve(s"doc_${r.getLong(0)}.txt"), r.getString(1))
          }
        // a previous aborted run (bench re-runs share the warehouse) may
        // have left the table's location — same hygiene as
        // Bucketing.writeBucketed
        graft.store.Fs.deleteRecursively(s,
          s.conf.get("spark.sql.warehouse.dir") + "/stream_bm25_gate")
        val ck = tmp.resolve("ck").toString
        val q = graft.streaming.StreamingIngest.runBm25IndexStream(
          s, in.toString, "stream_bm25_gate", ck,
          b => b.select(regexp_extract(col("uri"), "doc_(\\d+)\\.txt$", 1)
            .cast("long").as("doc_id"), col("text")))
        q.awaitTermination()
        val nBatches = Scratch.offsetBatches(s, ck)
        graft.search.Bm25Index.search(s, "stream_bm25_gate",
            Seq("spark", "join", "window"), topK = 10)
          .drop("n_terms_matched")
          .withColumn("multi_batch", lit(nBatches >= 3))
      },
      s"""WITH toks AS (SELECT doc_id, unnest(${DedupQueries.duckToks}) AS term
         |              FROM documents WHERE doc_id < 40),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         |                 CAST(SUM(dl) AS DOUBLE) AS total FROM dl),
         |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks
         |       WHERE term IN ('spark','join','window') GROUP BY term),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |       WHERE term IN ('spark','join','window') GROUP BY doc_id, term),
         |contrib AS (
         |  SELECT tf.doc_id, tf.term,
         |    ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) * tf.tf * 2.2
         |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (stats.total / stats.n_docs))) AS c
         |  FROM tf JOIN df ON tf.term = df.term
         |          JOIN dl ON tf.doc_id = dl.doc_id, stats),
         |agg AS (
         |  SELECT doc_id,
         |    COALESCE(SUM(CASE WHEN term = 'spark' THEN c END), 0)
         |    + COALESCE(SUM(CASE WHEN term = 'join' THEN c END), 0)
         |    + COALESCE(SUM(CASE WHEN term = 'window' THEN c END), 0) AS score
         |  FROM contrib GROUP BY doc_id)
         |SELECT doc_id, ROUND(score, 6) AS score, TRUE AS multi_batch
         |FROM agg ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    // ---- first-order Markov transition matrix over per-user event
    // sequences: adjacent (event, next-event) pairs in timestamp order
    // (event_id tiebreak — a total order, so any engine sequences
    // identically), counts + fixed-point row-normalized transition
    // probabilities. The user-behavior model behind session analysis /
    // next-action prediction. ----
    "events_markov_transition" -> QueryDef.sql(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("__us", unix_micros(col("ts")))
        val nxt = ev
          .withColumn("next_type", lead(col("event_type"), 1).over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("__us"), col("event_id"))))
          .filter(col("next_type").isNotNull)
        val cnt = nxt.groupBy(col("event_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
        val tot = cnt.groupBy(col("event_type")).agg(sum(col("n")).as("__t"))
        cnt.join(tot, "event_type")
          .select(col("event_type"), col("next_type"), col("n"),
            expr("(n * 1000000) DIV __t").as("p_ppm"))
          .orderBy(col("event_type"), col("next_type"))
      },
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |            FROM events),
        |nxt AS (SELECT event_type,
        |          lead(event_type) OVER (PARTITION BY user_id
        |            ORDER BY us, event_id) AS next_type
        |        FROM ev),
        |cnt AS (SELECT event_type, next_type, COUNT(*) AS n FROM nxt
        |        WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS t
        |        FROM cnt GROUP BY 1)
        |SELECT c.event_type, c.next_type, c.n, (c.n * 1000000) // t.t AS p_ppm
        |FROM cnt c JOIN tot t USING (event_type)
        |ORDER BY c.event_type, c.next_type""".stripMargin),

    // ---- CUSUM changepoint detection over daily event volumes (Page
    // 1954): one-sided clamped CUSUM via the prefix-sum identity
    // s_t = P_t − min(0, min_{τ≤t} P_τ) — max(0, s+dev) recursion becomes
    // two plain windows, no recursion, all fixed-point integers. Alarm
    // when s exceeds 3× the per-type daily mean. ----
    "events_cusum_changepoint" -> QueryDef.sql(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
        val cells = ev.groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("x"))
        val stats = cells.groupBy(col("event_type"))
          .agg(sum(col("x")).as("__tot"), count(lit(1)).as("__n"))
          .withColumn("mean_fp", expr("(__tot * 1000000) DIV __n"))
          .select(col("event_type"), col("mean_fp"),
            expr("mean_fp DIV 20").as("__slack"),
            (col("mean_fp") * 3).as("__h"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cells.join(broadcast(stats), "event_type")
          .withColumn("__dev", col("x") * 1000000L - col("mean_fp") - col("__slack"))
          .withColumn("__p", sum(col("__dev")).over(w))
          .withColumn("s_fp", col("__p") - least(min(col("__p")).over(w), lit(0L)))
          .select(col("event_type"), col("day"), col("x"), col("s_fp"),
            (col("s_fp") > col("__h")).cast("int").as("alarm"))
          .orderBy(col("event_type"), col("day"))
      },
      """WITH cells AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                 COUNT(*) AS x
        |               FROM events GROUP BY 1, 2),
        |stats AS (SELECT event_type,
        |            (CAST(SUM(x) AS BIGINT) * 1000000) // COUNT(*) AS mean_fp
        |          FROM cells GROUP BY 1),
        |j AS (SELECT c.event_type, c.day, c.x, s.mean_fp,
        |        c.x * 1000000 - s.mean_fp - (s.mean_fp // 20) AS dev,
        |        s.mean_fp * 3 AS h
        |      FROM cells c JOIN stats s USING (event_type)),
        |p AS (SELECT *, SUM(dev) OVER (PARTITION BY event_type ORDER BY day
        |        ROWS UNBOUNDED PRECEDING) AS pf FROM j),
        |sc AS (SELECT *, pf - LEAST(MIN(pf) OVER (PARTITION BY event_type
        |         ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS s_fp FROM p)
        |SELECT event_type, day, x, CAST(s_fp AS BIGINT) AS s_fp,
        |  CAST(s_fp > h AS INT) AS alarm
        |FROM sc ORDER BY event_type, day""".stripMargin),

    // ---- hour-of-day seasonal baseline: per (event_type, hour) expected
    // count = total-at-hour DIV n_days (fixed point), deviation per
    // (type, day, hour) cell — the diurnal-profile anomaly monitor. Hour
    // and day come from pure integer arithmetic on epoch micros (UTC), so
    // no calendar function can diverge between engines. ----
    "events_hour_baseline" -> QueryDef.sql(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("__us", unix_micros(col("ts")))
          .withColumn("day", expr("__us DIV 86400000000"))
          .withColumn("hr", expr("(__us DIV 3600000000) % 24"))
        val cells = ev.groupBy(col("event_type"), col("day"), col("hr"))
          .agg(count(lit(1)).as("cnt"))
        val nDays = ev.agg(
          countDistinct(expr("__us DIV 86400000000")).as("__n_days"))
        val base = cells.groupBy(col("event_type"), col("hr"))
          .agg(sum(col("cnt")).as("__tot"))
          .crossJoin(broadcast(nDays))
          .withColumn("baseline_fp", expr("(__tot * 1000000) DIV __n_days"))
          .select(col("event_type"), col("hr"), col("baseline_fp"))
        cells.join(base, Seq("event_type", "hr"))
          .select(col("event_type"), col("day"), col("hr"), col("cnt"),
            col("baseline_fp"),
            (col("cnt") * 1000000L - col("baseline_fp")).as("dev_fp"))
          .orderBy(col("event_type"), col("day"), col("hr"))
      },
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |cells AS (SELECT event_type, us // 86400000000 AS day,
        |                 (us // 3600000000) % 24 AS hr, COUNT(*) AS cnt
        |          FROM e GROUP BY 1, 2, 3),
        |nd AS (SELECT COUNT(DISTINCT us // 86400000000) AS n_days FROM e),
        |base AS (SELECT event_type, hr,
        |           (CAST(SUM(cnt) AS BIGINT) * 1000000)
        |             // (SELECT n_days FROM nd) AS baseline_fp
        |         FROM cells GROUP BY 1, 2)
        |SELECT c.event_type, c.day, c.hr, c.cnt, b.baseline_fp,
        |       c.cnt * 1000000 - b.baseline_fp AS dev_fp
        |FROM cells c JOIN base b USING (event_type, hr)
        |ORDER BY c.event_type, c.day, c.hr""".stripMargin),

    "events_mad_outliers" -> QueryDef.sql(
      (s, d) => {
        val ev = Tables.events(s, d)
        val wv = ev.withColumn("v4",
          (col("value").cast(DecimalType(18, 4)) * 10000).cast("long"))
        val med = wv.groupBy("event_type")
          .agg(expr("percentile(v4, 0.5D)").as("med4"))
        val dev = wv.join(med, "event_type")
          .withColumn("d8", abs(col("v4") * 2 - col("med4") * 2).cast("long"))
        val mad = dev.groupBy("event_type")
          .agg(expr("percentile(d8, 0.5D)").as("mad8"))
        dev.join(mad, "event_type")
          .withColumn("score", round(
            when(col("mad8") === 0.0, lit(0.0))
              .otherwise(lit(0.6745) * (col("v4") * 2 - col("med4") * 2) / col("mad8")), 4))
          .select(col("event_id"), col("event_type"), col("value"), col("score"))
          .orderBy(abs(col("score")).desc, col("event_id")).limit(20)
      },
      """WITH v AS (SELECT event_id, event_type, value,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v4
        |  FROM events),
        |med AS (SELECT event_type, quantile_cont(v4, 0.5) AS med4
        |        FROM v GROUP BY event_type),
        |dev AS (SELECT v.event_id, v.event_type, v.value, v.v4, med.med4,
        |               CAST(abs(v.v4 * 2 - med.med4 * 2) AS BIGINT) AS d8
        |        FROM v JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(d8, 0.5) AS mad8
        |        FROM dev GROUP BY event_type)
        |SELECT d.event_id, d.event_type, d.value,
        |  ROUND(CASE WHEN mad.mad8 = 0.0 THEN 0.0
        |             ELSE 0.6745 * (d.v4 * 2 - d.med4 * 2) / mad.mad8 END, 4) AS score
        |FROM dev d JOIN mad USING (event_type)
        |ORDER BY abs(score) DESC, event_id LIMIT 20""".stripMargin),

    // ---- A17 CUBE: all four grouping combinations in one pass ----
    "rel_cube_returns" -> QueryDef.sql(
      (s, d) => Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
             count(lit(1)).as("n"),
             sum((col("l_quantity").cast(DecimalType(18, 4)) * 10000)
               .cast("long")).as("qty_e4"))
        .select(col("gid"), col("l_returnflag"), col("l_linestatus"),
                col("n"), col("qty_e4"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first),
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS qty_e4
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  )
}
