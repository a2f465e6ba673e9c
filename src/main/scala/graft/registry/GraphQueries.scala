package graft
package registry

import org.apache.spark.sql.functions._

import graft.scale.Graph
import QueryHelpers._

/** Graph algorithms over the trade and co-purchase graphs
  * ([[graft.scale.Graph]]).
  */
object GraphQueries {

  /** Personalized-PageRank oracle: the [[graft.scale.Graph
    * .personalizedPageRankMicro]] rounds unrolled to fixed depth, teleport
    * base folded into the node table (sources = every 50th supplier).
    */
  private def pprOracleSql(iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      val prev = if (i == 1) "s0" else s"i${i - 1}"
      s"""i$i AS (
         |  SELECT n.node, n.base, CAST(n.base +
         |    (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS score
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, CAST(s.score // d.outdeg AS BIGINT) AS contrib
         |    FROM edges e JOIN $prev s ON e.src = s.node
         |    JOIN deg d ON e.src = d.src
         |    WHERE s.score > 0) c ON c.dst = n.node
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_suppkey AS sk, o_custkey + 10000000 AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT sk AS src, ck AS dst FROM pairs
       |  UNION ALL SELECT ck AS src, sk AS dst FROM pairs),
       |srcs AS (SELECT DISTINCT sk AS node FROM pairs WHERE sk % 50 = 0),
       |nodes AS (
       |  SELECT n.node,
       |    CASE WHEN s.node IS NULL THEN 0 ELSE 150000 END AS base
       |  FROM (SELECT DISTINCT src AS node FROM edges) n
       |  LEFT JOIN srcs s ON s.node = n.node),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       |s0 AS (
       |  SELECT node, CAST(CASE WHEN base > 0 THEN 1000000 ELSE 0 END
       |    AS BIGINT) AS score FROM nodes),
       |$rounds
       |SELECT CASE WHEN node >= 10000000 THEN 'customer'
       |    ELSE 'supplier' END AS node_type,
       |  CAST(CASE WHEN node >= 10000000 THEN node - 10000000
       |    ELSE node END AS BIGINT) AS node_id,
       |  score AS score_micro
       |FROM i$iterations WHERE score > 0
       |ORDER BY score_micro DESC, node_type, node_id""".stripMargin
  }

  /** Mechanically unrolled k-core peeling oracle: per round, a (degree,
    * keep, prune) CTE triple over the shrinking edge set. Peeling past the
    * fixpoint is identity, so `rounds` ≥ the corpus's convergence depth
    * replays [[graft.scale.Graph.kCore]]'s fixpoint exactly.
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED: each e_r is referenced 3× by the next round — if
    // the engine inlines the chain, the scan count grows 3^rounds and the
    // replay dies on file handles before it dies on CPU
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += """hi AS MATERIALIZED (
      |  SELECT l_orderkey AS kk, l_partkey AS p FROM lineitem
      |  WHERE l_quantity >= 35.0)""".stripMargin
    ctes += """e0 AS MATERIALIZED (
      |  SELECT DISTINCT least(a.p, b.p) AS a, greatest(a.p, b.p) AS b
      |  FROM hi a JOIN hi b ON a.kk = b.kk AND a.p <> b.p)""".stripMargin
    for (r <- 1 to rounds) {
      ctes += s"d$r AS MATERIALIZED (\n  SELECT node, COUNT(*) AS deg FROM (\n" +
        s"    SELECT a AS node FROM e${r - 1}" +
        s" UNION ALL SELECT b FROM e${r - 1}) u\n  GROUP BY node)"
      ctes += s"k$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k)"
      ctes += s"e$r AS MATERIALIZED (\n  SELECT e.a, e.b FROM e${r - 1} e\n" +
        s"  JOIN k$r ka ON e.a = ka.node\n  JOIN k$r kb ON e.b = kb.node)"
    }
    "WITH " + ctes.mkString(",\n") +
      s"\nSELECT node, COUNT(*) AS core_deg FROM (\n" +
      s"  SELECT a AS node FROM e$rounds" +
      s" UNION ALL SELECT b FROM e$rounds) u\n" +
      "GROUP BY node ORDER BY node"
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- scale: PageRank centrality over the supplier↔customer trade graph -
    // Exact integer micro-unit PageRank ([[Graph.pageRankMicro]]): the
    // bipartite trade graph (distinct supplier–customer pairs from
    // lineitem⋈orders, symmetrized) ranked by 3 damped iterations. Node
    // ids disambiguate by an offset; every score is a deterministic long.
    QuerySpec("pagerank_trade_orders", (s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          (col("o_custkey") + 10000000L).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      Graph.pageRankMicro(edges, 3)
        .select(
          when(col("node") >= 10000000L, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          when(col("node") >= 10000000L, col("node") - 10000000L)
            .otherwise(col("node")).as("node_id"),
          col("score").as("score_micro"))
        .orderBy(col("score_micro").desc, col("node_type"), col("node_id"))
    },
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS sk, o_custkey + 10000000 AS ck
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT sk AS src, ck AS dst FROM pairs
        |  UNION ALL SELECT ck AS src, sk AS dst FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        |s0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes),
        |i1 AS (
        |  SELECT n.node, CAST(150000 +
        |    (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS score
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, CAST(s.score // d.outdeg AS BIGINT) AS contrib
        |    FROM edges e JOIN s0 s ON e.src = s.node
        |    JOIN deg d ON e.src = d.src) c ON c.dst = n.node
        |  GROUP BY 1),
        |i2 AS (
        |  SELECT n.node, CAST(150000 +
        |    (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS score
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, CAST(s.score // d.outdeg AS BIGINT) AS contrib
        |    FROM edges e JOIN i1 s ON e.src = s.node
        |    JOIN deg d ON e.src = d.src) c ON c.dst = n.node
        |  GROUP BY 1),
        |i3 AS (
        |  SELECT n.node, CAST(150000 +
        |    (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS score
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst, CAST(s.score // d.outdeg AS BIGINT) AS contrib
        |    FROM edges e JOIN i2 s ON e.src = s.node
        |    JOIN deg d ON e.src = d.src) c ON c.dst = n.node
        |  GROUP BY 1)
        |SELECT CASE WHEN node >= 10000000 THEN 'customer'
        |    ELSE 'supplier' END AS node_type,
        |  CAST(CASE WHEN node >= 10000000 THEN node - 10000000
        |    ELSE node END AS BIGINT) AS node_id,
        |  score AS score_micro
        |FROM i3
        |ORDER BY score_micro DESC, node_type, node_id""".stripMargin),

    // ---- HITS hubs & authorities on the directed trade graph ---------------
    // supplier → customer edges only (the directed bipartite form — the
    // symmetric union would collapse hub ≡ authority): two exact-integer
    // rounds, one L1 normalization at the end. Suppliers carry hub mass
    // (portfolio weight), customers authority (co-purchasing pull).
    QuerySpec("hits_trade_orders", (s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 10000000L).as("dst"))
      Graph.hits(pairs, 2)
        .select(
          when(col("node") >= 10000000L, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          when(col("node") >= 10000000L, col("node") - 10000000L)
            .otherwise(col("node")).as("node_id"),
          col("authority"), col("hub"))
        .orderBy(col("node_type"), col("node_id"))
    },
      // two unrolled exact-integer HITS rounds (h0 = 1 -> a1 = indegree),
      // one L1 normalization at the end
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS src, o_custkey + 10000000 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM pairs
        |  UNION SELECT dst FROM pairs),
        |a1 AS (SELECT dst, CAST(COUNT(*) AS HUGEINT) AS a
        |  FROM pairs GROUP BY dst),
        |h1 AS (SELECT src, CAST(SUM(a) AS HUGEINT) AS h
        |  FROM pairs JOIN a1 USING (dst) GROUP BY src),
        |a2s AS (SELECT dst, CAST(SUM(h) AS HUGEINT) AS a
        |  FROM pairs JOIN h1 USING (src) GROUP BY dst),
        |h2s AS (SELECT src, CAST(SUM(a) AS HUGEINT) AS h
        |  FROM pairs JOIN a2s USING (dst) GROUP BY src),
        |a2 AS (SELECT node, COALESCE(a, 0) AS a
        |  FROM nodes LEFT JOIN a2s ON node = dst),
        |h2 AS (SELECT node, COALESCE(h, 0) AS h
        |  FROM nodes LEFT JOIN h2s ON node = src),
        |tot AS (SELECT (SELECT SUM(a) FROM a2) AS ta,
        |  (SELECT SUM(h) FROM h2) AS th)
        |SELECT
        |  CASE WHEN node >= 10000000 THEN 'customer'
        |    ELSE 'supplier' END AS node_type,
        |  CASE WHEN node >= 10000000 THEN node - 10000000
        |    ELSE node END AS node_id,
        |  ROUND(CAST(a AS DOUBLE) / CAST(ta AS DOUBLE), 6) AS authority,
        |  ROUND(CAST(h AS DOUBLE) / CAST(th AS DOUBLE), 6) AS hub
        |FROM a2 JOIN h2 USING (node), tot
        |ORDER BY node_type, node_id""".stripMargin),

    // ---- personalized PageRank from a supplier seed set --------------------
    // Random walk with restart on the same supplier↔customer trade graph:
    // teleport mass lands only on every-50th supplier, so scores rank
    // nodes by proximity to the seed set (TrustRank-style source
    // weighting). Exact-integer rounds; only reachable nodes emitted.
    QuerySpec("ppr_trade_orders", (s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          (col("o_custkey") + 10000000L).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val sources = pairs.select(col("sk").as("node"))
        .filter(col("node") % 50 === 0).distinct()
      Graph.personalizedPageRankMicro(edges, sources, 3)
        .select(
          when(col("node") >= 10000000L, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          when(col("node") >= 10000000L, col("node") - 10000000L)
            .otherwise(col("node")).as("node_id"),
          col("score_micro"))
        .orderBy(col("score_micro").desc, col("node_type"), col("node_id"))
    },
      pprOracleSql(3)),

    // ---- multi-source BFS hop distance on the trade graph ------------------
    // How many trade hops separate every node from the every-50th-supplier
    // seed set (the PPR query's seeds) — frontier BFS, min-hop semantics,
    // expansion capped at 4 rounds BY CONTRACT (the oracle replays the
    // same fixed depth; an early empty-frontier exit cannot change it).
    QuerySpec("bfs_hops_orders", (s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          (col("o_custkey") + 10000000L).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val seeds = pairs.select(col("sk").as("node"))
        .filter(col("node") % 50 === 0).distinct()
      Graph.bfsHops(edges, seeds, 4)
        .select(
          when(col("node") >= 10000000L, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          when(col("node") >= 10000000L, col("node") - 10000000L)
            .otherwise(col("node")).as("node_id"),
          col("hops"))
        .orderBy(col("node_type"), col("node_id"))
    },
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT l_suppkey AS sk, o_custkey + 10000000 AS ck
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT sk AS src, ck AS dst FROM pairs
        |  UNION ALL SELECT ck AS src, sk AS dst FROM pairs),
        |walk(node, hop) AS (
        |  SELECT DISTINCT sk AS node, 0 AS hop FROM pairs WHERE sk % 50 = 0
        |  UNION
        |  SELECT e.dst AS node, w.hop + 1 AS hop
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.hop < 4)
        |SELECT CASE WHEN node >= 10000000 THEN 'customer'
        |    ELSE 'supplier' END AS node_type,
        |  CAST(CASE WHEN node >= 10000000 THEN node - 10000000
        |    ELSE node END AS BIGINT) AS node_id,
        |  CAST(MIN(hop) AS BIGINT) AS hops
        |FROM walk
        |GROUP BY 1, 2
        |ORDER BY node_type, node_id""".stripMargin),

    // ---- modularity of the nation partition on the trade graph -------------
    // Is trade assortative by nation? Newman modularity of the
    // nation-of-endpoint partition over the supplier↔customer graph —
    // per-community in-edge mass vs the degree-preserving random
    // expectation ([[Graph.modularity]]; Q = SUM(q_contrib)).
    QuerySpec("modularity_trade_orders", (s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          (col("o_custkey") + 10000000L).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val comm = t(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("node"),
          col("s_nationkey").cast("long").as("community"))
        .unionByName(t(s, dir, "customer")
          .select((col("c_custkey") + 10000000L).as("node"),
            col("c_nationkey").cast("long").as("community")))
      Graph.modularity(edges, comm).orderBy(col("community"))
    },
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS sk, o_custkey + 10000000 AS ck
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT sk AS src, ck AS dst FROM pairs
        |  UNION ALL SELECT ck AS src, sk AS dst FROM pairs),
        |comm AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS node,
        |    CAST(s_nationkey AS BIGINT) AS community FROM supplier
        |  UNION ALL
        |  SELECT CAST(c_custkey + 10000000 AS BIGINT) AS node,
        |    CAST(c_nationkey AS BIGINT) AS community FROM customer),
        |e AS (
        |  SELECT cs.community AS cs, cd.community AS cd
        |  FROM edges
        |  JOIN comm cs ON cs.node = edges.src
        |  JOIN comm cd ON cd.node = edges.dst),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS te FROM e),
        |inc AS (
        |  SELECT cs AS community, COUNT(*) AS in_edges FROM e
        |  WHERE cs = cd GROUP BY 1),
        |degc AS (SELECT cs AS community, COUNT(*) AS deg_sum FROM e GROUP BY 1),
        |nc AS (SELECT community, COUNT(*) AS n_nodes FROM comm GROUP BY 1)
        |SELECT nc.community, nc.n_nodes,
        |  CAST(COALESCE(inc.in_edges, 0) AS BIGINT) AS in_edges,
        |  CAST(COALESCE(degc.deg_sum, 0) AS BIGINT) AS deg_sum,
        |  ROUND(COALESCE(inc.in_edges, 0) / tot.te
        |    - (COALESCE(degc.deg_sum, 0) / tot.te)
        |      * (COALESCE(degc.deg_sum, 0) / tot.te), 6) AS q_contrib
        |FROM nc
        |LEFT JOIN degc ON degc.community = nc.community
        |LEFT JOIN inc ON inc.community = nc.community, tot
        |ORDER BY nc.community""".stripMargin),

    // ---- graph: label-propagation community detection ----------------------
    // The community PRODUCER beside modularity's scorer, on the same
    // supplier↔customer trade graph: 3 synchronous rounds, most-frequent
    // in-neighbor label, ties to the smallest — deterministic, so the
    // oracle unrolls the rounds exactly (the pagerank convention).
    QuerySpec("lpa_communities_orders", (s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          (col("o_custkey") + 10000000L).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      Graph.labelPropagation(edges, 3).orderBy(col("node"))
    },
      // LPA replay: 3 rounds unrolled exactly (the pagerank convention) —
      // per round a (dst, label) count, mode pick by (count desc, label),
      // message-less nodes keep their label.
      """WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS sk, o_custkey + 10000000 AS ck
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT sk AS src, ck AS dst FROM pairs
        |  UNION ALL SELECT ck AS src, sk AS dst FROM pairs),
        |n AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges
        |    UNION ALL SELECT dst AS node FROM edges)),
        |l0 AS (SELECT node, CAST(node AS BIGINT) AS label FROM n),
        |m1 AS (
        |  SELECT e.dst AS node, l.label, COUNT(*) AS c
        |  FROM edges e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
        |p1 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      ROW_NUMBER() OVER (PARTITION BY node
        |        ORDER BY c DESC, label) AS rk
        |    FROM m1) WHERE rk = 1),
        |l1 AS (
        |  SELECT l0.node, COALESCE(p1.label, l0.label) AS label
        |  FROM l0 LEFT JOIN p1 USING (node)),
        |m2 AS (
        |  SELECT e.dst AS node, l.label, COUNT(*) AS c
        |  FROM edges e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
        |p2 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      ROW_NUMBER() OVER (PARTITION BY node
        |        ORDER BY c DESC, label) AS rk
        |    FROM m2) WHERE rk = 1),
        |l2 AS (
        |  SELECT l1.node, COALESCE(p2.label, l1.label) AS label
        |  FROM l1 LEFT JOIN p2 USING (node)),
        |m3 AS (
        |  SELECT e.dst AS node, l.label, COUNT(*) AS c
        |  FROM edges e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
        |p3 AS (
        |  SELECT node, label FROM (
        |    SELECT node, label,
        |      ROW_NUMBER() OVER (PARTITION BY node
        |        ORDER BY c DESC, label) AS rk
        |    FROM m3) WHERE rk = 1),
        |l3 AS (
        |  SELECT l2.node, COALESCE(p3.label, l2.label) AS label
        |  FROM l2 LEFT JOIN p3 USING (node))
        |SELECT node, label FROM l3 ORDER BY node""".stripMargin),

    // ---- graph: degree-ordered triangle counting ---------------------------
    // Co-purchase graph: parts joined by appearing in the same order with
    // high quantity (l_quantity >= 35 keeps the graph sparse — a raw
    // co-occurrence graph is near-complete and its wedge space explodes
    // quadratically; real pipelines prune edges before counting). The
    // operator is [[Graph.triangleStats]]: orient by (degree, id), wedge
    // self-join on the low-rank anchor, semi-join the closing edge.
    QuerySpec("triangle_count_lineitem", (s, dir) => {
      val hi = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 35.0)
        .select(col("l_orderkey").as("k"), col("l_partkey"))
      val other = hi.select(col("k"), col("l_partkey").as("p2"))
      val edges = hi.join(other, Seq("k"))
        .filter(col("l_partkey") =!= col("p2"))
        .select(col("l_partkey").as("src"), col("p2").as("dst"))
      Graph.triangleStats(edges)
    },
      """WITH hi AS (
        |  SELECT l_orderkey AS k, l_partkey AS p FROM lineitem
        |  WHERE l_quantity >= 35.0),
        |und AS (
        |  SELECT DISTINCT least(a.p, b.p) AS a, greatest(a.p, b.p) AS b
        |  FROM hi a JOIN hi b ON a.k = b.k AND a.p <> b.p),
        |deg AS (
        |  SELECT node, COUNT(*) AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und) u
        |  GROUP BY node),
        |o AS (
        |  SELECT
        |    CASE WHEN (da.deg, und.a) < (db.deg, und.b)
        |      THEN und.a ELSE und.b END AS lo,
        |    CASE WHEN (da.deg, und.a) < (db.deg, und.b)
        |      THEN und.b ELSE und.a END AS hi,
        |    CASE WHEN (da.deg, und.a) < (db.deg, und.b)
        |      THEN db.deg ELSE da.deg END AS dhi
        |  FROM und
        |  JOIN deg da ON da.node = und.a
        |  JOIN deg db ON db.node = und.b),
        |wed AS (
        |  SELECT e1.hi AS v, e2.hi AS w
        |  FROM o e1 JOIN o e2 ON e1.lo = e2.lo
        |  WHERE (e1.dhi, e1.hi) < (e2.dhi, e2.hi)),
        |tri AS (
        |  SELECT COUNT(*) AS n_triangles FROM wed
        |  WHERE EXISTS (SELECT 1 FROM o WHERE o.lo = wed.v AND o.hi = wed.w)),
        |wt AS (
        |  SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM deg)
        |SELECT
        |  (SELECT COUNT(*) FROM deg) AS n_nodes,
        |  (SELECT COUNT(*) FROM und) AS n_edges,
        |  wt.n_wedges,
        |  tri.n_triangles,
        |  ROUND(tri.n_triangles * 3.0 / wt.n_wedges, 6) AS clustering
        |FROM wt, tri""".stripMargin),

    // ---- k-core decomposition on the co-order part graph -------------------
    // Iterative peeling to fixpoint (Graph.kCore, which THROWS if its
    // maxRounds cap is hit pre-fixpoint); the oracle unrolls exactly
    // maxRounds rounds — past convergence each extra round is identity, so
    // the fixpoint and the fixed-depth replay agree.
    QuerySpec("kcore_lineitem", (s, dir) => {
      val hi = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 35.0)
        .select(col("l_orderkey").as("k"), col("l_partkey"))
      val other = hi.select(col("k"), col("l_partkey").as("p2"))
      val edges = hi.join(other, Seq("k"))
        .filter(col("l_partkey") =!= col("p2"))
        .select(col("l_partkey").as("src"), col("p2").as("dst"))
      Graph.kCore(edges, 4).orderBy(col("node"))
    },
      // unrolled to kCore's OWN maxRounds (20): kCore now throws if peeling
      // has not converged within that cap, so whenever the Spark side
      // returns at all, a 20-round replay is ≥ convergence depth and the
      // extra rounds are identity — the oracle can never silently diverge
      kcoreOracleSql(4, 20)),

    // ---- common-neighbor link prediction on the co-order graph ------------
    // Top-50 NON-adjacent part pairs by neighborhood Jaccard. Middle nodes
    // above deg 64 are excluded from wedge generation by declared
    // semantics (hub wedges cost deg^2 and carry no similarity signal);
    // the oracle replicates the cap exactly.
    QuerySpec("link_prediction_lineitem", (s, dir) => {
      val hi = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 35.0)
        .select(col("l_orderkey").as("k"), col("l_partkey"))
      val edges = hi
        .join(hi.select(col("k"), col("l_partkey").as("p2")), Seq("k"))
        .filter(col("l_partkey") =!= col("p2"))
        .select(col("l_partkey").as("src"), col("p2").as("dst"))
      Graph.linkPrediction(edges, 64, 50).orderBy(col("rk"))
    },
      """WITH hi AS (
        |  SELECT l_orderkey AS k, l_partkey AS p FROM lineitem
        |  WHERE l_quantity >= 35),
        |e AS (
        |  SELECT DISTINCT LEAST(a.p, b.p) AS a, GREATEST(a.p, b.p) AS b
        |  FROM hi a JOIN hi b ON a.k = b.k AND a.p <> b.p),
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |deg AS (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a),
        |mid AS (
        |  SELECT s.a AS m, s.b AS x FROM sym s
        |  JOIN deg d ON d.a = s.a AND d.deg <= 64),
        |cn AS (
        |  SELECT w1.x AS x, w2.x AS y, COUNT(*) AS cn
        |  FROM mid w1 JOIN mid w2 ON w1.m = w2.m AND w1.x < w2.x
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT cn.* FROM cn ANTI JOIN e ON cn.x = e.a AND cn.y = e.b),
        |sc AS (
        |  SELECT c.x, c.y, c.cn, dx.deg AS deg_x, dy.deg AS deg_y,
        |    ROUND(CAST(c.cn AS DOUBLE) /
        |      CAST(dx.deg + dy.deg - c.cn AS DOUBLE), 6) AS jaccard
        |  FROM cand c JOIN deg dx ON dx.a = c.x JOIN deg dy ON dy.a = c.y),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY jaccard DESC, x, y) AS rk,
        |    x, y, cn, deg_x, deg_y, jaccard
        |  FROM sc)
        |SELECT rk, x, y, cn, deg_x, deg_y, jaccard FROM r WHERE rk <= 50
        |ORDER BY rk""".stripMargin)
  )
}
