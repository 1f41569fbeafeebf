package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.ops._
import graft.quality.RuleBasedScorer
import graft.similarity.Similarity
import graft.textanalysis.TextAnalysis

import EntryInfra._

/** Graph queries (components, triangles, k-core, communities, PageRank) — one module of the per-family SparkEntry split (round 14):
  * this family's `Seq[Query]`, each query declared once beside its
  * oracle decision, plus the builders and generated oracles only
  * this family uses. Aggregated by [[SparkEntry]].
  */
private[graft] trait GraphEntries extends EntryInfra {

  protected def graphQueries: Seq[Query] = Seq(
    // Connected components (the dedup clustering primitive) over a
    // deterministic star-of-stars graph: key→4-hub→16-hub, so every
    // node's component has the closed form key − key%16 — fully
    // oracled including the multi-hop propagation
    Query("q_components", (s, d) => {
      val k = Tables.orders(s, d).select(col("o_orderkey").as("k"))
      val edges = k
        .select(col("k").as("id_a"), (col("k") - col("k") % 4).as("id_b"))
        .union(k.select((col("k") - col("k") % 4).as("id_a"),
          (col("k") - col("k") % 16).as("id_b")))
      // smallGraphEdges=0 forces the distributed propagation path —
      // the one a cluster-scale graph runs — through the oracle gate;
      // the union-find fast path is pinned equal in DedupSpec
      Dedup.connectedComponents(edges, "id_a", "id_b", smallGraphEdges = 0L)
        .orderBy(col("node"))
    },
      Sql("""WITH e0 AS (
           SELECT o_orderkey AS a, o_orderkey - o_orderkey % 4 AS b FROM orders
           UNION
           SELECT o_orderkey - o_orderkey % 4 AS a,
                  o_orderkey - o_orderkey % 16 AS b FROM orders),
         e AS (SELECT a, b FROM e0 WHERE a <> b),
         n AS (SELECT a AS node FROM e UNION SELECT b AS node FROM e)
         SELECT node, node - node % 16 AS component FROM n ORDER BY node""")),
    // The bounded-graph serving path: the SAME edges through the
    // in-task union-find fast path (default smallGraphEdges budget —
    // one job, no propagation rounds), gated by the SAME closed-form
    // oracle SQL, so fast ≡ distributed is the hash gate itself (the
    // q_communities_fast / q_triangles_fast convention)
    Query("q_components_fast", (s, d) => {
      val k = Tables.orders(s, d).select(col("o_orderkey").as("k"))
      val edges = k
        .select(col("k").as("id_a"), (col("k") - col("k") % 4).as("id_b"))
        .union(k.select((col("k") - col("k") % 4).as("id_a"),
          (col("k") - col("k") % 16).as("id_b")))
      Dedup.connectedComponents(edges, "id_a", "id_b")
        .orderBy(col("node"))
    },
      // the in-task union-find fast path shares the closed-form replay
      // verbatim — fast ≡ distributed is the hash gate itself
      SameAs("q_components")),
    // Same components contract through the ALTERNATING STAR-
    // CONTRACTION path — O(log n) rounds independent of diameter,
    // the variant a chain-shaped 100 TB graph needs — hash-matched
    // against the identical closed-form oracle
    Query("q_components_star", (s, d) => {
      val k = Tables.orders(s, d).select(col("o_orderkey").as("k"))
      val edges = k
        .select(col("k").as("id_a"), (col("k") - col("k") % 4).as("id_b"))
        .union(k.select((col("k") - col("k") % 4).as("id_a"),
          (col("k") - col("k") % 16).as("id_b")))
      // smallGraphEdges = 0 keeps the UPFRONT union-find off, so the
      // distributed contraction rounds run through the oracle; the
      // default finishInTaskBytes budget then lets the geometric-
      // shrink TAIL finish in-task once the contracted graph is tiny
      // — the two-phase shape a 100 TB graph actually runs
      Dedup.connectedComponents(edges, "id_a", "id_b",
        smallGraphEdges = 0L, algorithm = "star")
        .orderBy(col("node"))
    },
      SameAs("q_components")),
    // Graph: PageRank over the same orders-derived link graph — the
    // link-centrality quality prior of crawl curation; 8 exact power-
    // iteration rounds with uniform teleport, and the 16-aligned hubs
    // are DANGLING sinks so the mass-redistribution path is oracled
    // too. Ranks rounded to 10 dp (fp summation-order ulps sit ~1e-18,
    // far below the grain)
    // Graph: degree-distribution readout — the sanity histogram every
    // graph pipeline prints before running anything iterative on it
    // (out-degree d → node count; dangling nodes are the d = 0 row)
    Query("q_graph_degrees", (s, d) => {
      val k = Tables.orders(s, d).select(col("o_orderkey").as("k"))
      val edges = k
        .select(col("k").as("a"), (col("k") - col("k") % 4).as("b"))
        .union(k.select((col("k") - col("k") % 4).as("a"),
          (col("k") - col("k") % 16).as("b")))
        .filter(col("a") =!= col("b")).distinct()
      val outDeg = edges.groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("d"))
      val nodes = edges.select(col("a").as("node"))
        .union(edges.select(col("b").as("node"))).distinct()
      nodes.join(outDeg, Seq("node"), "left")
        .select(coalesce(col("d"), lit(0L)).as("out_degree"))
        .groupBy(col("out_degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("out_degree"))
    },
      Sql("""WITH e0 AS (
           SELECT o_orderkey AS a, o_orderkey - o_orderkey % 4 AS b FROM orders
           UNION
           SELECT o_orderkey - o_orderkey % 4 AS a,
                  o_orderkey - o_orderkey % 16 AS b FROM orders),
         e AS (SELECT a, b FROM e0 WHERE a <> b),
         n AS (SELECT a AS node FROM e UNION SELECT b AS node FROM e),
         deg AS (SELECT a AS node, count(*) AS d FROM e GROUP BY a)
         SELECT coalesce(deg.d, 0) AS out_degree,
                count(*) AS n_nodes
         FROM n LEFT JOIN deg ON n.node = deg.node
         GROUP BY 1 ORDER BY out_degree""")),
    // Triangle count + clustering coefficient per node over a built
    // link graph (4-group triangles + 16-group star heads — the star
    // exercises the degree-ordered orientation's heavy-hitter bound)
    // smallGraphEdges=0 pins the distributed 2-path join — the
    // 100 TB shape the oracle replays
    Query("q_triangles", (s, d) =>
      graft.graph.Triangles.triangleStats(linkGraphEdges(s, d), "s", "t",
        smallGraphEdges = 0L),
      // triangle replay: canonical undirected edges, degree-ordered
      // orientation, 2-path join closed against the oriented edges
      Sql(s"""WITH $linkGraphCtes,
       $triangleCtes,
       tn AS (SELECT node, count(*) AS t FROM (
                SELECT s AS node FROM tr
                UNION ALL SELECT a FROM tr
                UNION ALL SELECT b FROM tr) GROUP BY 1)
       SELECT deg.node, deg.d AS degree,
         coalesce(tn.t, 0) AS triangles,
         CASE WHEN deg.d >= 2 THEN
           ((2 * coalesce(tn.t, 0) * 20000 + deg.d * (deg.d - 1))
            // (2 * deg.d * (deg.d - 1))) / 10000.0
         ELSE 0.0 END AS clustering
       FROM deg LEFT JOIN tn ON deg.node = tn.node
       ORDER BY deg.node""")),
    // The same readout through the bounded-graph in-task path
    // (sorted-adjacency intersect, one job) — oracled against the
    // IDENTICAL replay, so fast ≡ distributed is hash-gated
    Query("q_triangles_fast", (s, d) =>
      graft.graph.Triangles.triangleStats(linkGraphEdges(s, d), "s", "t"),
      // the in-task fast twin runs against the IDENTICAL replay — a
      // divergence between the sorted-adjacency intersect and the
      // distributed 2-path join fails the hash gate itself
      SameAs("q_triangles")),
    // Degree assortativity of the same graph: Pearson over endpoint
    // degrees, exact integer moment sums, one division per graph
    Query("q_assortativity", (s, d) =>
      graft.graph.Triangles.assortativity(linkGraphEdges(s, d), "s", "t"),
      // assortativity replay: five exact moment sums, one guarded
      // division; m is even (both orientations), so m/2 is exact
      Sql(s"""WITH $linkGraphCtes,
         sym AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
         j AS (SELECT du.d AS du, dv.d AS dv
               FROM sym
               JOIN deg du ON sym.u = du.node
               JOIN deg dv ON sym.v = dv.node),
         a AS (SELECT count(*) AS m,
                 CAST(sum(du) AS BIGINT) AS sx,
                 CAST(sum(dv) AS BIGINT) AS sy,
                 CAST(sum(du * dv) AS BIGINT) AS sxy,
                 CAST(sum(du * du) AS BIGINT) AS sxx,
                 CAST(sum(dv * dv) AS BIGINT) AS syy
               FROM j)
         SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           CASE WHEN (m * sxx - sx * sx) > 0 AND (m * syy - sy * sy) > 0
                THEN round(CAST(m * sxy - sx * sy AS DOUBLE) /
                       sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
                            CAST(m * syy - sy * sy AS DOUBLE)), 4)
           END AS assortativity
         FROM a""")),
    // One-row structure dashboard of the link graph
    Query("q_graph_summary", (s, d) =>
      graft.graph.Triangles.graphSummary(linkGraphEdges(s, d), "s", "t"),
      // whole-graph dashboard: counts + triangles + the assortativity
      // expression, all from the shared graph CTEs
      Sql(s"""WITH $linkGraphCtes,
         $triangleCtes,
         sym AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
         j AS (SELECT du.d AS du, dv.d AS dv
               FROM sym
               JOIN deg du ON sym.u = du.node
               JOIN deg dv ON sym.v = dv.node),
         am AS (SELECT count(*) AS m,
                 CAST(sum(du) AS BIGINT) AS sx,
                 CAST(sum(dv) AS BIGINT) AS sy,
                 CAST(sum(du * dv) AS BIGINT) AS sxy,
                 CAST(sum(du * du) AS BIGINT) AS sxx,
                 CAST(sum(dv * dv) AS BIGINT) AS syy
               FROM j)
         SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM und) AS n_edges,
           (SELECT count(*) FROM tr) AS n_triangles,
           (SELECT CASE WHEN (m * sxx - sx * sx) > 0
                         AND (m * syy - sy * sy) > 0
                   THEN round(CAST(m * sxy - sx * sy AS DOUBLE) /
                          sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
                               CAST(m * syy - sy * sy AS DOUBLE)), 4)
                   END FROM am) AS assortativity""")),
    // 2-core of the same graph by synchronous peeling to fixpoint:
    // the pendant-chain tails drop in round 1, their middle links in
    // round 2, triangles and star heads survive; the recorded round
    // count generates an exact per-round DuckDB replay (the
    // ivfKmeansOracle lifecycle)
    Query("q_kcore", (s, d) => {
      lastOracleDir = d
      // smallGraphEdges=0 pins the distributed peel — the 100 TB
      // shape — through the oracle gate; the in-task fast path is
      // pinned round-and-member equal in KCoreSpec and serves the
      // bounded-graph compositions (q_curation_kcore)
      val r = graft.graph.KCore.kCore(linkGraphEdges(s, d), "s", "t", 2,
        smallGraphEdges = 0L)
      kcoreRounds.put(d, Integer.valueOf(r.rounds))
      r.members
    },
      Generated(() => kcoreOracle)),
    // Community detection: 4 synchronous label-propagation rounds
    // over the link graph, ties to the smallest label, min-member
    // canonical community names. smallGraphEdges=0 pins the
    // distributed per-round shape — the 100 TB plan — through the
    // oracle gate (the q_kcore convention); the in-task fast path is
    // pinned label-for-label equal in CommunitiesSpec
    Query("q_communities", (s, d) =>
      graft.graph.Communities.labelPropagation(linkGraphEdges(s, d),
        "s", "t", rounds = 4, smallGraphEdges = 0L),
      // LPA replay: one CTE per synchronous round (most-frequent
      // neighbor label, ties to the smallest — row_number over the
      // grouped vote counts), min-member canonical relabel; both
      // execution paths gate on the same replay
      Sql(s"""WITH $linkGraphCtes,
         ${lpaChainCtes(4)}
         SELECT node, community FROM fin ORDER BY node""")),
    // the bounded-graph serving path, gated by the SAME oracle SQL —
    // a divergence between the paths fails the gate itself
    Query("q_communities_fast", (s, d) =>
      graft.graph.Communities.labelPropagation(linkGraphEdges(s, d),
        "s", "t", rounds = 4),
      // the in-task fast twin must label identically
      SameAs("q_communities")),
    // Ingest-time community assignment: new nodes (one per order,
    // +3e9 id offset) attach to the link graph and adopt the majority
    // FROZEN label among their neighbors — one LPA round against the
    // WRITTEN labels artifact (built once, never recomputed; the gram
    // index / NB gate lifecycle). Ids ≡ 2 mod 5 link only to another
    // NEW node, so their vote is empty and they open their own
    // community (the LPA init convention) — the oracle replays both
    // branches
    // Served STAGED (the round-10 weak line): the batch's edges were
    // canonicalized+symmetrized ONCE at ingest-stage time into a
    // v-bucketed catalog table, the frozen labels into a node-bucketed
    // one with the same bucket count — the vote round's label join
    // plans ZERO exchanges and the query never re-canonicalizes.
    // Same oracle SQL as before: staged ≡ one-shot is gated by the
    // hash itself (CommunitiesSpec also pins row parity + plan shape)
    Query("q_communities_probe", (s, d) =>
      graft.graph.Communities.assignFromStaged(
        communityProbeNodes(s, d),
        builtCommunityProbeEdges(s, d),
        builtCommunityLabelsBucketed(s, d)),
      // ingest probe replay: ONE more LPA round for the new nodes,
      // voting over the frozen 4-round partition; no-labeled-neighbor
      // probes (ids ≡ 2 mod 5, linked only to another new node) fall
      // back to their own id
      Sql(s"""WITH $linkGraphCtes,
         ${lpaChainCtes(4)},
         pk AS (SELECT o_orderkey AS k, o_orderkey - o_orderkey % 4 AS g
                FROM orders),
         pe0 AS (SELECT k + 3000000000 AS s, g AS t FROM pk
                   WHERE k % 5 <> 2
                 UNION ALL
                 SELECT k + 3000000000, g + 1 FROM pk WHERE k % 5 <> 2
                 UNION ALL
                 SELECT k + 3000000000, k + 4000000000 FROM pk
                   WHERE k % 5 = 2),
         pu AS (SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
                FROM pe0 WHERE s <> t),
         psym AS (SELECT u, v FROM pu UNION ALL SELECT v, u FROM pu),
         pn AS (SELECT DISTINCT k + 3000000000 AS node FROM pk),
         votes AS (SELECT p.u AS node, f.community, count(*) AS c
                   FROM psym p JOIN fin f ON p.v = f.node
                   WHERE p.u IN (SELECT node FROM pn)
                   GROUP BY 1, 2),
         best AS (SELECT node, community,
                    row_number() OVER (PARTITION BY node
                      ORDER BY c DESC, community) AS rn
                  FROM votes)
         SELECT pn.node, coalesce(b.community, pn.node) AS community
         FROM pn LEFT JOIN best b ON pn.node = b.node AND b.rn = 1
         ORDER BY pn.node""")),
    // One-row partition-quality readout: exact integer-rational
    // modularity of the LPA partition (Newman-Girvan), the number a
    // curation owner reads before trusting community-level decisions
    Query("q_modularity", (s, d) =>
      graft.graph.Communities.modularityOfLpa(
        linkGraphEdges(s, d), "s", "t", rounds = 4),
      // modularity as the exact integer rational sum(4*m*e_c - D_c^2)
      // / 4m^2 over the replayed partition; the double readout is the
      // house 4-decimal long division, +1-shifted so the numerator
      // stays non-negative (integer-division semantics for negatives
      // differ between engines)
      Sql(s"""WITH $linkGraphCtes,
         ${lpaChainCtes(4)},
         mtot AS (SELECT count(*) AS m FROM und),
         dc AS (SELECT f.community, CAST(sum(deg.d) AS BIGINT) AS dsum
                FROM fin f JOIN deg ON f.node = deg.node GROUP BY 1),
         ec AS (SELECT fu.community, count(*) AS e FROM und
                JOIN fin fu ON und.u = fu.node
                JOIN fin fv ON und.v = fv.node
                WHERE fu.community = fv.community GROUP BY 1),
         nm AS (SELECT CAST(coalesce(sum(4 * mtot.m * coalesce(ec.e, 0)
                       - dc.dsum * dc.dsum), 0) AS BIGINT) AS q_num
                FROM dc CROSS JOIN mtot
                LEFT JOIN ec ON dc.community = ec.community)
         SELECT (SELECT count(*) FROM fin) AS n_nodes,
           mtot.m AS n_edges,
           (SELECT count(DISTINCT community) FROM fin) AS n_communities,
           nm.q_num AS q_num,
           4 * mtot.m * mtot.m AS q_den,
           CASE WHEN mtot.m <> 0 THEN
             ((CAST(nm.q_num AS HUGEINT) + 4 * mtot.m * mtot.m) * 20000
              + 4 * mtot.m * mtot.m)
              // (2 * CAST(4 * mtot.m * mtot.m AS HUGEINT))
              / 10000.0 - 1.0
           END AS modularity
         FROM mtot, nm""")),
    // Community-size histogram — one blob, all singletons, or a real
    // distribution? |distinct sizes| rows off the same LPA partition
    Query("q_community_sizes", (s, d) =>
      graft.graph.Communities.communitySizes(
        graft.graph.Communities.labelPropagation(
          linkGraphEdges(s, d), "s", "t", rounds = 4)),
      Sql(s"""WITH $linkGraphCtes,
         ${lpaChainCtes(4)}
         SELECT size, count(*) AS n_communities FROM (
           SELECT community, count(*) AS size FROM fin GROUP BY 1)
         GROUP BY 1 ORDER BY size""")),
    // TrustRank: teleport restricted to trusted seed hubs (node ids
    // divisible by 64 — a subset of the 16-group heads); rank flows
    // outward from seeds, unreachable regions starve toward zero
    Query("q_pagerank_personalized", (s, d) => {
      val k = Tables.orders(s, d).select(col("o_orderkey").as("k"))
      val edges = k
        .select(col("k").as("a"), (col("k") - col("k") % 4).as("b"))
        .union(k.select((col("k") - col("k") % 4).as("a"),
          (col("k") - col("k") % 16).as("b")))
      // smallGraphEdges=0 pins the distributed rounds — the
      // cluster-scale shape — through the oracle gate (the q_pagerank
      // convention); the fast-path twin below serves bounded graphs
      graft.graph.PageRank.personalizedPageRank(edges, "a", "b",
          n => n % 64 === 0, iterations = 8, smallGraphEdges = 0L)
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy(col("node"))
    },
      Sql(personalizedPageRankOracle(8))),
    // the bounded-graph serving path: identical recurrence in one
    // in-task CSR iteration, gated by the SAME oracle SQL — a hash
    // divergence between the paths fails the gate itself
    Query("q_pagerank_personalized_fast", (s, d) => {
      val k = Tables.orders(s, d).select(col("o_orderkey").as("k"))
      val edges = k
        .select(col("k").as("a"), (col("k") - col("k") % 4).as("b"))
        .union(k.select((col("k") - col("k") % 4).as("a"),
          (col("k") - col("k") % 16).as("b")))
      graft.graph.PageRank.personalizedPageRank(edges, "a", "b",
          n => n % 64 === 0, iterations = 8)
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy(col("node"))
    },
      // the in-task fast twin must rank identically
      SameAs("q_pagerank_personalized")),
    Query("q_pagerank", (s, d) => {
      val k = Tables.orders(s, d).select(col("o_orderkey").as("k"))
      val edges = k
        .select(col("k").as("a"), (col("k") - col("k") % 4).as("b"))
        .union(k.select((col("k") - col("k") % 4).as("a"),
          (col("k") - col("k") % 16).as("b")))
      // smallGraphEdges=0 forces the distributed rounds — the shape a
      // cluster-scale graph runs — through the oracle gate; the
      // in-task fast path is pinned ulp-equal in PageRankSpec
      graft.graph.PageRank.pageRank(edges, "a", "b", iterations = 8,
          smallGraphEdges = 0L)
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy(col("node"))
    },
      Sql(pageRankOracle(8))),
  )
  /** Build-once WRITTEN LPA community labels of the link graph (same
    * lifecycle) — the frozen partition the ingest probe serves from.
    */
  protected def builtCommunityLabels(s: SparkSession, d: String): String =
    builtIndexDir("graft_lpa", d) { p =>
      graft.graph.Communities.writeCommunityLabels(
        graft.graph.Communities.labelPropagation(linkGraphEdges(s, d),
          "s", "t", rounds = 4), p)
    }

  /** The community-probe fixture batch: one NEW node per order
    * (+3e9 id offset). Ids ≢ 2 mod 5 link to their 4-group head g
    * and g+1 in the frozen link graph; ids ≡ 2 mod 5 link only to
    * another NEW node (+4e9), so their vote is empty and they open
    * their own community (the LPA init convention) — the oracle
    * replays both branches.
    */
  protected def communityProbeNodes(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select((col("o_orderkey") + 3000000000L).as("node"))

  protected def communityProbeEdges(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      (col("o_orderkey") - col("o_orderkey") % 4).as("g"))
    val attached = o.filter(col("k") % 5 =!= 2)
    val lonely = o.filter(col("k") % 5 === 2)
    attached
      .select((col("k") + 3000000000L).as("s"), col("g").as("t"))
      .unionByName(attached.select((col("k") + 3000000000L).as("s"),
        (col("g") + 1).as("t")))
      .unionByName(lonely.select((col("k") + 3000000000L).as("s"),
        (col("k") + 4000000000L).as("t")))
  }

  /** Stage-once canonical probe-edge layout (v-bucketed catalog
    * table) — the ingest-staging step of the served assignment; the
    * canonicalization distinct is paid here, not per query.
    */
  protected def builtCommunityProbeEdges(s: SparkSession, d: String): String =
    builtTable("graft_lpa_pedges", d) { t =>
      graft.graph.Communities.stageAssignmentEdges(
        communityProbeEdges(s, d), "s", "t", t)
    }

  /** Build-once node-bucketed frozen labels (same bucket count as
    * the staged edges) — re-laid from the parquet artifact, so the
    * LPA partition itself is still computed exactly once.
    */
  protected def builtCommunityLabelsBucketed(s: SparkSession, d: String): String = {
    // resolve the labels artifact BEFORE the build-once mapping
    // function: both caches share one ConcurrentHashMap, and a
    // nested computeIfAbsent is outside the CHM contract (the
    // builtIvfReclusteredIndex rationale)
    val labels = builtCommunityLabels(s, d)
    builtTable("graft_lpa_blabels", d) { t =>
      graft.graph.Communities.writeCommunityLabelsBucketed(
        graft.graph.Communities.readCommunityLabels(s, labels), t)
    }
  }

  /** The synthetic link graph shared by q_triangles / q_kcore:
    * a triangle per 4-group of order keys plus 16-group star heads
    * (triangles for closure structure, stars for degree skew).
    */
  protected def linkGraphEdges(s: SparkSession, d: String): DataFrame = {
    val g = Tables.orders(s, d)
      .select((col("o_orderkey") - col("o_orderkey") % 4).as("g"))
    g.select(col("g").as("s"), (col("g") + 1).as("t"))
      .union(g.select((col("g") + 1).as("s"), (col("g") + 2).as("t")))
      .union(g.select(col("g").as("s"), (col("g") + 2).as("t")))
      .union(g.select(col("g").as("s"), (col("g") - col("g") % 16).as("t")))
      // pendant chain off each triangle: g+2 → g+10⁹ → g+2·10⁹ —
      // gives the k-core peel a 2-round cascade (tail first, then
      // the middle link) while adding no triangles
      .union(g.select((col("g") + 2).as("s"),
        (col("g") + 1000000000L).as("t")))
      .union(g.select((col("g") + 1000000000L).as("s"),
        (col("g") + 2000000000L).as("t")))
  }

  // recorded synchronous-peel round counts per sfDir (the generated
  // q_kcore oracle replays exactly that many rounds)
  protected val kcoreRounds =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Generated q_kcore oracle: one MATERIALIZED CTE per recorded
    * peel round (each round is referenced twice — DuckDB's default
    * CTE inlining would go exponential, the pageRankOracle lesson).
    * Empty until q_kcore has run in this JVM → rows-only, the
    * ivfKmeansOracle lifecycle.
    */
  protected def kcoreOracle: Option[String] =
    Option(lastOracleDir).flatMap(d => Option(kcoreRounds.get(d))).map { rr =>
      val r = rr.intValue
      val rounds = (1 to r).map { i =>
        s""",
         a$i AS MATERIALIZED (
           SELECT u AS node FROM (
             SELECT sym.u, count(*) AS dd FROM sym
             JOIN a${i - 1} x ON sym.u = x.node
             JOIN a${i - 1} y ON sym.v = y.node
             GROUP BY sym.u)
           WHERE dd >= 2)"""
      }.mkString
      s"""WITH $linkGraphCtes,
         sym AS MATERIALIZED (
           SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
         a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym)$rounds
         SELECT sym.u AS node, count(*) AS core_degree FROM sym
         JOIN a$r x ON sym.u = x.node
         JOIN a$r y ON sym.v = y.node
         GROUP BY 1 ORDER BY 1"""
    }

  /** Replay of [[TextAnalysis.bpeEncode]] over the merges the learning
    * CTE chain just derived: bracket-encode every surviving word, wrap
    * it in the same n literal replaces in rank order (the merge pairs
    * arrive via one cross join of the 1-row b_i CTEs), strip the
    * brackets back to a space-joined token stream. Assumes the corpus
    * actually yields n merges (true of the documents table) — an
    * exhausted b_i would empty the cross join.
    */
  /** Unrolled power-iteration replay (the bpeLearnCtes pattern): one
    * (dangling-mass, rank) CTE pair per round, formula shape
    * identical to the operator's — (1−d)/n + d·(contrib + dm/n) —
    * so both engines run the same IEEE ops and the query edge's
    * round(…, 10) absorbs summation-order ulps. Every CTE is
    * MATERIALIZED: each round references its predecessor twice, so
    * DuckDB's default inlining would expand the chain 2^iters-fold
    * (reproduced as an fd-exhausting 256-scan plan at iters = 8).
    */
  /** The graph-independent PageRank replay CTEs: callers prepend an
    * `e0(a, b)` edge CTE and append their own tail over `r<iters>`.
    */
  protected def pageRankRoundCtes(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT coalesce(sum(p.rank), 0.0) AS dm
           FROM r${k - 1} p JOIN dang ON p.node = dang.node),
         r$k AS MATERIALIZED (
           SELECT p.node,
             (1.0 - 0.85)/cnt.c +
               0.85*(coalesce(w.contrib, 0.0) + d$k.dm/cnt.c) AS rank
           FROM r${k - 1} p CROSS JOIN cnt CROSS JOIN d$k
           LEFT JOIN (SELECT e.b AS node, sum(q.rank / deg.dout) AS contrib
                      FROM e JOIN deg ON e.a = deg.a
                      JOIN r${k - 1} q ON q.node = e.a
                      GROUP BY e.b) w ON w.node = p.node)"""
    }.mkString(",\n")
    s"""e AS MATERIALIZED (SELECT a, b FROM e0 WHERE a <> b),
       deg AS MATERIALIZED (SELECT a, count(*) AS dout FROM e GROUP BY a),
       n AS MATERIALIZED (SELECT a AS node FROM e UNION SELECT b AS node FROM e),
       cnt AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS c FROM n),
       dang AS MATERIALIZED (
         SELECT node FROM n WHERE node NOT IN (SELECT a FROM e)),
       r0 AS MATERIALIZED (
         SELECT node, 1.0/cnt.c AS rank FROM n CROSS JOIN cnt),
       $rounds"""
  }

  /** The degree-ordered triangle-closure CTEs (orientation, 2-paths,
    * closed triangles) over `linkGraphCtes` — shared by q_triangles
    * and q_graph_summary.
    */
  protected val triangleCtes: String =
    """o AS (SELECT
                 CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                      THEN u ELSE v END AS src,
                 CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                      THEN v ELSE u END AS dst,
                 CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                      THEN dv.d ELSE du.d END AS dd
               FROM und
               JOIN deg du ON und.u = du.node
               JOIN deg dv ON und.v = dv.node),
         p AS (SELECT o1.src AS s, o1.dst AS a, o1.dd AS da,
                      o2.dst AS b, o2.dd AS db
               FROM o o1 JOIN o o2 ON o1.src = o2.src
               WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst)),
         tr AS (SELECT p.s, p.a, p.b
                FROM p JOIN o ON o.src = p.a AND o.dst = p.b)"""

  /** The link-graph oracle front (edge construction, canonical
    * undirected edges, degrees) shared by q_triangles / q_kcore /
    * q_assortativity — one text, three oracles.
    */
  protected val linkGraphCtes: String =
    """k AS (SELECT o_orderkey - o_orderkey % 4 AS g FROM orders),
         e0 AS (SELECT g AS s, g + 1 AS t FROM k
                UNION ALL SELECT g + 1, g + 2 FROM k
                UNION ALL SELECT g, g + 2 FROM k
                UNION ALL SELECT g, g - g % 16 FROM k
                UNION ALL SELECT g + 2, g + 1000000000 FROM k
                UNION ALL SELECT g + 1000000000, g + 2000000000 FROM k),
         und AS (SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
                 FROM e0 WHERE s <> t),
         deg AS (SELECT node, count(*) AS d FROM (
                   SELECT u AS node FROM und
                   UNION ALL SELECT v FROM und) GROUP BY 1)"""

  /** The label-propagation replay chain over `und` (from
    * [[linkGraphCtes]]): one MATERIALIZED CTE per synchronous round
    * (each is referenced once per successor but materialization keeps
    * the planner linear — the kcoreOracle lesson), ending in `fin`
    * (node, community) with min-member canonical names. Shared by the
    * q_communities pair and q_modularity so the vote semantics can
    * never drift between the partition and its quality readout.
    */
  protected def lpaChainCtes(rounds: Int, und: String = "und"): String = {
    val rs = (1 to rounds).map { i =>
      s""",
         l$i AS MATERIALIZED (
           SELECT node, label FROM (
             SELECT csym.u AS node, p.label AS label,
                    row_number() OVER (PARTITION BY csym.u
                      ORDER BY count(*) DESC, p.label) AS rn
             FROM csym JOIN l${i - 1} p ON csym.v = p.node
             GROUP BY csym.u, p.label)
           WHERE rn = 1)"""
    }.mkString
    s"""csym AS MATERIALIZED (
           SELECT u, v FROM $und UNION ALL SELECT v, u FROM $und),
         l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label
           FROM csym)$rs,
         fin AS MATERIALIZED (SELECT l.node, mn.community FROM l$rounds l
           JOIN (SELECT label, min(node) AS community FROM l$rounds
                 GROUP BY 1) mn
           ON l.label = mn.label)"""
  }

  /** TrustRank replay: the [[pageRankRoundCtes]] graph CTEs with the
    * seed-restricted teleport — r0 = s(v), each round
    * s(v)·((1−d) + d·dm) + d·contrib, the exact expression shape the
    * operator evaluates (IEEE determinism does the rest).
    */
  protected def personalizedPageRankOracle(iters: Int): String = {
    val seed = "p.node % 64 = 0"
    val rounds = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT coalesce(sum(p.rank), 0.0) AS dm
           FROM r${k - 1} p JOIN dang ON p.node = dang.node),
         r$k AS MATERIALIZED (
           SELECT p.node,
             (CASE WHEN $seed THEN 1.0/sc.c ELSE 0.0 END)
               * ((1.0 - 0.85) + 0.85*d$k.dm)
             + 0.85*coalesce(w.contrib, 0.0) AS rank
           FROM r${k - 1} p CROSS JOIN sc CROSS JOIN d$k
           LEFT JOIN (SELECT e.b AS node, sum(q.rank / deg.dout) AS contrib
                      FROM e JOIN deg ON e.a = deg.a
                      JOIN r${k - 1} q ON q.node = e.a
                      GROUP BY e.b) w ON w.node = p.node)"""
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
         SELECT o_orderkey AS a, o_orderkey - o_orderkey % 4 AS b FROM orders
         UNION
         SELECT o_orderkey - o_orderkey % 4 AS a,
                o_orderkey - o_orderkey % 16 AS b FROM orders),
       e AS MATERIALIZED (SELECT a, b FROM e0 WHERE a <> b),
       deg AS MATERIALIZED (SELECT a, count(*) AS dout FROM e GROUP BY a),
       n AS MATERIALIZED (SELECT a AS node FROM e UNION SELECT b AS node FROM e),
       sc AS MATERIALIZED (
         SELECT CAST(count(*) AS DOUBLE) AS c FROM n WHERE node % 64 = 0),
       dang AS MATERIALIZED (
         SELECT node FROM n WHERE node NOT IN (SELECT a FROM e)),
       r0 AS MATERIALIZED (
         SELECT node, CASE WHEN node % 64 = 0 THEN 1.0/sc.c ELSE 0.0 END AS rank
         FROM n CROSS JOIN sc),
       $rounds
       SELECT node, round(rank, 10) AS rank FROM r$iters ORDER BY node"""
  }

  protected def pageRankOracle(iters: Int): String =
    s"""WITH e0 AS MATERIALIZED (
         SELECT o_orderkey AS a, o_orderkey - o_orderkey % 4 AS b FROM orders
         UNION
         SELECT o_orderkey - o_orderkey % 4 AS a,
                o_orderkey - o_orderkey % 16 AS b FROM orders),
       ${pageRankRoundCtes(iters)}
       SELECT node, round(rank, 10) AS rank FROM r$iters ORDER BY node"""

}
