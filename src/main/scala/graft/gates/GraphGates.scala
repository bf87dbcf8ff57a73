package graft
package gates

import org.apache.spark.SparkContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Queries._
import graft.bel.{ConnectedComponents, Graph}
import graft.core.Tables

/** Graph-algorithm gates: components, PageRank and its personalized and
  * weighted faces, label propagation, modularity, BFS paths and
  * betweenness, k-core, k-truss, triangles, SCC, HITS, assortativity and
  * embedding walks (`bel`). */
object GraphGates {
  /** Co-supply edge list for the graph gates, memoized per
    * (SparkContext, sf dir) as a temp-parquet spill — the same posture as
    * the events feed: the lineitem self-join that CONSTRUCTS the
    * dimension-sized graph (~49k edges at sf0.1) costs ~2 s per
    * evaluation, and re-deriving it per bench run measures the corpus
    * scan, not the graph operator. Parquet, not a driver-held local
    * relation: a LocalTableScan re-ships the rows with every task while a
    * 49k-row file scan is milliseconds and plans like any other source.
    * The operator under test still runs in full every invocation. */
  private val coSupplyMemo = new GateMemo[SparkContext, String]

  private def coSupplyEdges(s: SparkSession, d: String): DataFrame = {
    val path = coSupplyMemo(s.sparkContext, d) {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val a = li.select(col("ok"), col("sk").as("s1"))
      val b = li.select(col("ok"), col("sk").as("s2"))
      val out = s"/tmp/graft_cosupply_${sfTag(d)}"
      a.join(b, Seq("ok"))
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 5)
        .select(col("s1").as("src"), col("s2").as("dst"))
        .coalesce(4)
        .write.mode("overwrite").parquet(out)
      out
    }
    s.read.parquet(path)
  }

  /** The [[graft.bel.PageRank]] recurrence unrolled to chained CTEs —
    * DuckDB has no iterative aggregation, so the oracle IS the fixed
    * iteration count, one (contribution, dangling, update) triple per
    * step. */
  private def pagerankOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.rank / o.deg) AS c
         |  FROM edges e
         |  JOIN r${i - 1} r ON r.node = e.src
         |  JOIN outdeg o ON o.src = e.src
         |  GROUP BY e.dst
         |), d$i AS (
         |  SELECT coalesce(sum(r.rank), 0) AS m FROM r${i - 1} r
         |  LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL
         |), r$i AS (
         |  SELECT v.node,
         |    (1 - 0.85) / nn.n + 0.85 * (coalesce(c.c, 0) + d$i.m / nn.n)
         |      AS rank
         |  FROM vertices v CROSS JOIN nn CROSS JOIN d$i
         |  LEFT JOIN c$i c ON c.node = v.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT 's:' || s_suppkey AS src, 'n:' || s_nationkey AS dst
       |    FROM supplier
       |    UNION ALL
       |    SELECT 'n:' || n_nationkey, 'r:' || n_regionkey FROM nation)
       |), vertices AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices),
       |outdeg AS (
       |  SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src
       |), r0 AS (
       |  SELECT node, 1.0 / nn.n AS rank FROM vertices CROSS JOIN nn
       |),
       |$steps
       |SELECT node, rank FROM r$iters
       |""".stripMargin
  }

  /** The k-core peeling loop unrolled to chained CTEs (DuckDB has no
    * iterate-to-fixpoint): level i keeps the nodes whose degree within
    * the level-(i-1) node set is ≥ k. Peeling past the fixpoint is the
    * identity, so any depth ≥ the corpus's true peeling depth is exact. */
  private def kcoreOracle(k: Int, levels: Int): String = {
    val steps = (1 to levels).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT n, count(*) AS c FROM (
         |    SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY n
         |), k$i AS MATERIALIZED (SELECT n FROM d$i WHERE c >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT n FROM k$i) AND b IN (SELECT n FROM k$i)
         |)""".stripMargin
    }.mkString(",\n")
    // AS MATERIALIZED: each level references its predecessor 3×, and
    // DuckDB inlines plain CTEs — the unrolled chain would otherwise
    // expand to 3^levels scans of lineitem
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), e0 AS MATERIALIZED (
       |  SELECT a.pk AS a, b.pk AS b
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2
       |),
       |$steps
       |SELECT CAST(n AS BIGINT) AS node, CAST(c AS BIGINT) AS core_deg
       |FROM (
       |  SELECT n, count(*) AS c FROM (
       |    SELECT a AS n FROM e$levels UNION ALL SELECT b FROM e$levels)
       |  GROUP BY n)
       |WHERE c >= $k
       |""".stripMargin
  }

  /** Shared walk-corpus CTE chain (steps unrolled, argmin per step) —
    * both the walks gate and the skip-gram gate read the same corpus. */
  private def walksCte(steps: Int): String = {
    val stepCtes = (1 to steps).map { i =>
      s""", s$i AS MATERIALIZED (
         |  SELECT walk_id, v AS cur FROM (
         |    SELECT w.walk_id, adj.v,
         |      row_number() OVER (PARTITION BY w.walk_id
         |        ORDER BY md5(CAST(w.walk_id AS VARCHAR) || ':$i:' ||
         |          CAST(adj.v AS VARCHAR)), adj.v) AS rn
         |    FROM s${i - 1} w JOIN adj ON w.cur = adj.u)
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString("\n")
    val unions = (1 to steps).map(i =>
      s"  UNION ALL SELECT walk_id, $i, cur FROM s$i").mkString("\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), e0 AS MATERIALIZED (
       |  SELECT a.pk AS a, b.pk AS b
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2
       |), adj AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
       |), s0 AS MATERIALIZED (
       |  SELECT DISTINCT u AS walk_id, u AS cur FROM adj
       |)
       |$stepCtes
       |, wr AS MATERIALIZED (
       |  SELECT CAST(walk_id AS BIGINT) AS walk_id, 0 AS pos,
       |    CAST(walk_id AS BIGINT) AS node FROM s0
       |$unions
       |)""".stripMargin
  }

  private def walksOracle(steps: Int): String =
    s"""${walksCte(steps)}
       |SELECT walk_id, pos, node FROM wr
       |""".stripMargin

  private def bfsOracle(levels: Int): String = {
    val steps = (1 to levels).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, min(hops) AS hops FROM (
         |    SELECT node, hops FROM d${i - 1}
         |    UNION ALL
         |    SELECT adj.v, d${i - 1}.hops + 1
         |    FROM d${i - 1} JOIN adj ON d${i - 1}.node = adj.u)
         |  GROUP BY node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), e0 AS MATERIALIZED (
       |  SELECT a.pk AS a, b.pk AS b
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2
       |), adj AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
       |), d0 AS MATERIALIZED (
       |  SELECT p_partkey AS node, 0 AS hops FROM part
       |  WHERE p_partkey % 50 = 0
       |),
       |$steps
       |SELECT CAST(node AS BIGINT) AS node, CAST(hops AS INTEGER) AS hops
       |FROM d$levels
       |""".stripMargin
  }

  private val ccIdxMemo = new GateMemo[SparkSession, String]

  /** Per-seed unrolled BFS relaxation + the lcm-exact harmonic fold —
    * the a21 `bfsOracle` pattern keyed on (seed, node). `levels` must
    * sit past the graph's eccentricity (extra levels are the
    * identity). */
  private def closenessOracle(levels: Int): String = {
    val steps = (1 to levels).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT seed, node, min(hops) AS hops FROM (
         |    SELECT seed, node, hops FROM d${i - 1}
         |    UNION ALL
         |    SELECT d${i - 1}.seed, adj.v, d${i - 1}.hops + 1
         |    FROM d${i - 1} JOIN adj ON d${i - 1}.node = adj.u)
         |  GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), e0 AS MATERIALIZED (
       |  SELECT a.pk AS a, b.pk AS b
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2
       |), adj AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
       |), d0 AS MATERIALIZED (
       |  SELECT p_partkey AS seed, p_partkey AS node, 0 AS hops FROM part
       |  WHERE p_partkey % 97 = 0
       |),
       |$steps
       |SELECT CAST(node AS BIGINT) AS node,
       |  CAST(count(*) AS BIGINT) AS n_landmarks,
       |  CAST(sum(hops) AS BIGINT) AS hop_mass,
       |  CAST(sum(232792560 // hops) AS DOUBLE) / 232792560 AS harmonic
       |FROM d$levels WHERE hops > 0 GROUP BY 1
       |""".stripMargin
  }

  /** The PPR recurrence unrolled to chained CTEs with per-node restart
    * mass — [[pagerankOracle]] generalized: `sv` carries
    * the normalized seed distribution and every step teleports to it. */
  private def pprOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.rank / o.deg) AS c
         |  FROM edges e
         |  JOIN r${i - 1} r ON r.node = e.src
         |  JOIN outdeg o ON o.src = e.src
         |  GROUP BY e.dst
         |), d$i AS (
         |  SELECT coalesce(sum(r.rank), 0) AS m FROM r${i - 1} r
         |  LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL
         |), r$i AS (
         |  SELECT v.node,
         |    (1 - 0.85) * v.s + 0.85 * (coalesce(c.c, 0) + d$i.m * v.s)
         |      AS rank
         |  FROM sv v CROSS JOIN d$i
         |  LEFT JOIN c$i c ON c.node = v.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT 'r:' || n_regionkey AS src, 'n:' || n_nationkey AS dst
       |    FROM nation
       |    UNION ALL
       |    SELECT 'n:' || s_nationkey, 's:' || s_suppkey FROM supplier)
       |), vertices AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), sv AS (
       |  SELECT node, CASE node WHEN 'r:0' THEN 3.0 / 4.0
       |    WHEN 'r:1' THEN 1.0 / 4.0 ELSE 0.0 END AS s
       |  FROM vertices
       |), outdeg AS (
       |  SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src
       |), r0 AS (
       |  SELECT node, s AS rank FROM sv
       |),
       |$steps
       |SELECT node, rank FROM r$iters
       |""".stripMargin
  }

  /** The synchronous LPA recurrence unrolled: per round, each node's
    * neighbor-label counts then the (count desc, label asc) row_number
    * winner, previous label kept when a node has no neighbors. The CTE
    * prefix is shared with the modularity oracle (which scores l5). */
  private def lpaCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.u AS node, l.label, count(*) AS cnt
         |  FROM und e JOIN l${i - 1} l ON l.node = e.v
         |  GROUP BY 1, 2
         |), b$i AS (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
         |    FROM c$i)
         |  WHERE rn = 1
         |), l$i AS (
         |  SELECT l.node, coalesce(b.label, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN b$i b ON b.node = l.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""edges AS (
       |  SELECT 's:' || s_suppkey AS src, 'n:' || s_nationkey AS dst
       |  FROM supplier
       |  UNION ALL
       |  SELECT 'n:' || n_nationkey, 'r:' || n_regionkey FROM nation
       |), und AS (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT src AS u, dst AS v FROM edges
       |    UNION SELECT dst AS u, src AS v FROM edges)
       |  WHERE u <> v
       |), vertices AS (
       |  SELECT DISTINCT u AS node FROM und
       |), l0 AS (
       |  SELECT node, node AS label FROM vertices
       |),
       |$steps""".stripMargin
  }

  private def lpaOracle(iters: Int): String =
    s"WITH ${lpaCtes(iters)}\nSELECT node, label FROM l$iters\n"

  /** The WEIGHTED recurrence unrolled — [[pprOracle]]'s sibling on the
    * transition side: contribution rank·w/out-strength, uniform
    * restart. */
  private def weightedPrOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.rank * e.w / o.s) AS c
         |  FROM edges e
         |  JOIN r${i - 1} r ON r.node = e.src
         |  JOIN outstr o ON o.src = e.src
         |  GROUP BY e.dst
         |), d$i AS (
         |  SELECT coalesce(sum(r.rank), 0) AS m FROM r${i - 1} r
         |  LEFT JOIN outstr o ON r.node = o.src WHERE o.src IS NULL
         |), r$i AS (
         |  SELECT v.node,
         |    (1 - 0.85) / nn.n + 0.85 * (coalesce(c.c, 0) + d$i.m / nn.n)
         |      AS rank
         |  FROM vertices v CROSS JOIN nn CROSS JOIN d$i
         |  LEFT JOIN c$i c ON c.node = v.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT 's:' || s_suppkey AS src, 'n:' || s_nationkey AS dst,
       |    CAST(s_suppkey % 7 + 1 AS DOUBLE) AS w
       |  FROM supplier
       |  UNION ALL
       |  SELECT 'n:' || n_nationkey, 'r:' || n_regionkey,
       |    CAST(n_nationkey % 3 + 1 AS DOUBLE)
       |  FROM nation
       |), edges AS (
       |  SELECT src, dst, sum(w) AS w FROM raw GROUP BY 1, 2
       |), vertices AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices),
       |outstr AS (
       |  SELECT src, sum(w) AS s FROM edges GROUP BY src
       |), r0 AS (
       |  SELECT node, 1.0 / nn.n AS rank FROM vertices CROSS JOIN nn
       |),
       |$steps
       |SELECT node, rank FROM r$iters
       |""".stripMargin
  }

  /** The FULL recurrence unrolled — [[pprOracle]]
    * restart vector composed with its weightedPrOracle transition
    * terms: rank' = (1−d)·s + d·(Σ_in rank·w/outstr + danglingMass·s)
    * over the reversed weighted dimension graph. */
  private def pprWeightedOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.rank * e.w / o.s) AS c
         |  FROM edges e
         |  JOIN r${i - 1} r ON r.node = e.src
         |  JOIN outstr o ON o.src = e.src
         |  GROUP BY e.dst
         |), d$i AS (
         |  SELECT coalesce(sum(r.rank), 0) AS m FROM r${i - 1} r
         |  LEFT JOIN outstr o ON r.node = o.src WHERE o.src IS NULL
         |), r$i AS (
         |  SELECT v.node,
         |    (1 - 0.85) * v.s + 0.85 * (coalesce(c.c, 0) + d$i.m * v.s)
         |      AS rank
         |  FROM sv v CROSS JOIN d$i
         |  LEFT JOIN c$i c ON c.node = v.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT 'r:' || n_regionkey AS src, 'n:' || n_nationkey AS dst,
       |    CAST(n_nationkey % 3 + 1 AS DOUBLE) AS w
       |  FROM nation
       |  UNION ALL
       |  SELECT 'n:' || s_nationkey, 's:' || s_suppkey,
       |    CAST(s_suppkey % 7 + 1 AS DOUBLE)
       |  FROM supplier
       |), edges AS (
       |  SELECT src, dst, sum(w) AS w FROM raw GROUP BY 1, 2
       |), vertices AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), sv AS (
       |  SELECT node, CASE node WHEN 'r:0' THEN 3.0 / 4.0
       |    WHEN 'r:1' THEN 1.0 / 4.0 ELSE 0.0 END AS s
       |  FROM vertices
       |), outstr AS (
       |  SELECT src, sum(w) AS s FROM edges GROUP BY src
       |), r0 AS (
       |  SELECT node, s AS rank FROM sv
       |),
       |$steps
       |SELECT node, rank FROM r$iters
       |""".stripMargin
  }

  /** Level-synchronous σ recurrence unrolled: frontier f_i = new nodes
    * with summed path counts from f_{i-1}, visited v_i accumulates —
    * the exact delta-frontier form [[graft.bel.Bfs.pathCounts]] runs
    * (a full-frame relaxation would add non-shortest contributions).
    * Shared by the σ gate and the betweenness oracle's forward phase. */
  private def sigmaForwardCtes(levels: Int): String = {
    val steps = (1 to levels).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT f.seed, adj.v AS node,
         |    CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM f${i - 1} f JOIN adj ON f.node = adj.u
         |  GROUP BY 1, 2
         |), f$i AS MATERIALIZED (
         |  SELECT c.seed, c.node, c.sigma
         |  FROM c$i c LEFT JOIN v${i - 1} v
         |    ON v.seed = c.seed AND v.node = c.node
         |  WHERE v.node IS NULL
         |), v$i AS MATERIALIZED (
         |  SELECT seed, node, hops, sigma FROM v${i - 1}
         |  UNION ALL
         |  SELECT seed, node, $i, sigma FROM f$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), e0 AS MATERIALIZED (
       |  SELECT a.pk AS a, b.pk AS b
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2
       |), adj AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
       |), v0 AS MATERIALIZED (
       |  SELECT p_partkey AS seed, p_partkey AS node, 0 AS hops,
       |    CAST(1 AS BIGINT) AS sigma
       |  FROM part WHERE p_partkey % 97 = 0
       |), f0 AS MATERIALIZED (
       |  SELECT seed, node, sigma FROM v0
       |),
       |$steps""".stripMargin
  }

  private def pathCountsOracle(levels: Int): String =
    s"""WITH ${sigmaForwardCtes(levels)}
       |SELECT CAST(seed AS BIGINT) AS seed, CAST(node AS BIGINT) AS node,
       |  hops, sigma
       |FROM v$levels
       |""".stripMargin

  /** Brandes' backward pass unrolled over the σ forward state: the
    * shortest-path DAG as one 3-way join, then per-level dependency
    * folds δ(v) = Σ ratio·(1+δ(w)) from the deepest level down —
    * exactly the per-level joins [[graft.bel.Bfs.landmarkBetweenness]]
    * runs. Level `levels` enters with δ = 0 (reached, no successors in
    * bound); level 0 (v = s) is excluded. */
  private def betweennessOracle(levels: Int): String = {
    val back = ((levels - 1) to 1 by -1).map { i =>
      s"""del$i AS MATERIALIZED (
         |  SELECT l.seed, l.node, coalesce(c.delta, 0) AS delta
         |  FROM (SELECT seed, node FROM v$levels WHERE hops = $i) l
         |  LEFT JOIN (
         |    SELECT g.seed, g.v AS node,
         |      sum(g.ratio * (1 + dn.delta)) AS delta
         |    FROM dag g JOIN del${i + 1} dn
         |      ON dn.seed = g.seed AND dn.node = g.w
         |    WHERE g.hv = $i GROUP BY 1, 2) c
         |  ON c.seed = l.seed AND c.node = l.node
         |)""".stripMargin
    }.mkString(",\n")
    val union = (levels to 1 by -1)
      .map(i => s"SELECT seed, node, delta FROM del$i")
      .mkString("\n      UNION ALL ")
    s"""WITH ${sigmaForwardCtes(levels)},
       |dag AS MATERIALIZED (
       |  SELECT a.seed, a.node AS v, b.node AS w, a.hops AS hv,
       |    CAST(a.sigma AS DOUBLE) / b.sigma AS ratio
       |  FROM v$levels a
       |  JOIN adj ON a.node = adj.u
       |  JOIN v$levels b ON b.seed = a.seed AND b.node = adj.v
       |    AND b.hops = a.hops + 1
       |), del$levels AS MATERIALIZED (
       |  SELECT seed, node, CAST(0 AS DOUBLE) AS delta
       |  FROM v$levels WHERE hops = $levels
       |),
       |$back
       |SELECT CAST(node AS BIGINT) AS node, sum(delta) AS betweenness
       |FROM ($union)
       |GROUP BY 1
       |""".stripMargin
  }

  /** The min-plus relaxation unrolled with per-edge weights — each
    * level is exactly one [[graft.bel.Bfs.relaxOnce]] with the weight
    * step, so a bounded round count is engine-identical whether or not
    * the fixpoint lands inside it. */
  private def weightedPathsOracle(levels: Int): String = {
    val steps = (1 to levels).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, min(cost) AS cost FROM (
         |    SELECT node, cost FROM d${i - 1}
         |    UNION ALL
         |    SELECT adjw.v, d${i - 1}.cost + adjw.w
         |    FROM d${i - 1} JOIN adjw ON d${i - 1}.node = adjw.u)
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), e0 AS MATERIALIZED (
       |  SELECT a.pk AS a, b.pk AS b
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2
       |), adjw AS MATERIALIZED (
       |  SELECT a AS u, b AS v, (a + b) % 7 + 1 AS w FROM e0
       |  UNION ALL
       |  SELECT b, a, (a + b) % 7 + 1 FROM e0
       |), d0 AS MATERIALIZED (
       |  SELECT p_partkey AS node, CAST(0 AS BIGINT) AS cost FROM part
       |  WHERE p_partkey % 97 = 0
       |),
       |$steps
       |SELECT CAST(node AS BIGINT) AS node, CAST(cost AS BIGINT) AS cost
       |FROM d$levels
       |""".stripMargin
  }

  /** The weighted-Brandes recurrences fully unrolled — per-seed
    * weighted min-plus costs (the a37 step, keyed by seed), the
    * equal-cost DAG as one 3-way join keyed on cost, then `rounds`
    * recompute-from-predecessors σ levels and `rounds`
    * recompute-from-successors δ levels — each CTE level IS one loop
    * round of [[graft.bel.Bfs.weightedBetweenness]]. */
  private def weightedBetweennessOracle(rounds: Int): String = {
    val costs = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT seed, node, min(cost) AS cost FROM (
         |    SELECT seed, node, cost FROM c${i - 1}
         |    UNION ALL
         |    SELECT c.seed, a.v, c.cost + a.w
         |    FROM c${i - 1} c JOIN adjw a ON c.node = a.u)
         |  GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(",\n")
    val sigmas = (1 to rounds).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT seed, node, sigma FROM s0
         |  UNION ALL
         |  SELECT g.seed, g.w AS node, CAST(sum(p.sigma) AS BIGINT)
         |  FROM dag g JOIN s${i - 1} p
         |    ON p.seed = g.seed AND p.node = g.v
         |  GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(",\n")
    val deltas = (1 to rounds).map { i =>
      s"""del$i AS MATERIALIZED (
         |  SELECT r.seed, r.node, coalesce(c.delta, 0) AS delta
         |  FROM (SELECT seed, node FROM c$rounds) r
         |  LEFT JOIN (
         |    SELECT g.seed, g.v AS node,
         |      sum(g.ratio * (1 + p.delta)) AS delta
         |    FROM rdag g JOIN del${i - 1} p
         |      ON p.seed = g.seed AND p.node = g.w
         |    GROUP BY 1, 2) c
         |  ON c.seed = r.seed AND c.node = r.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), e0 AS MATERIALIZED (
       |  SELECT a.pk AS a, b.pk AS b
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2
       |), adjw AS MATERIALIZED (
       |  SELECT a AS u, b AS v, (a + b) % 7 + 1 AS w FROM e0
       |  UNION ALL
       |  SELECT b, a, (a + b) % 7 + 1 FROM e0
       |), c0 AS MATERIALIZED (
       |  SELECT p_partkey AS seed, p_partkey AS node,
       |    CAST(0 AS BIGINT) AS cost
       |  FROM part WHERE p_partkey % 97 = 0
       |),
       |$costs,
       |dag AS MATERIALIZED (
       |  SELECT a.seed, a.node AS v, b.node AS w
       |  FROM c$rounds a
       |  JOIN adjw ON a.node = adjw.u
       |  JOIN c$rounds b ON b.seed = a.seed AND b.node = adjw.v
       |    AND b.cost = a.cost + adjw.w
       |), s0 AS MATERIALIZED (
       |  SELECT seed, node, CAST(1 AS BIGINT) AS sigma FROM c0
       |),
       |$sigmas,
       |rdag AS MATERIALIZED (
       |  SELECT g.seed, g.v, g.w,
       |    CAST(sv.sigma AS DOUBLE) / sw.sigma AS ratio
       |  FROM dag g
       |  JOIN s$rounds sv ON sv.seed = g.seed AND sv.node = g.v
       |  JOIN s$rounds sw ON sw.seed = g.seed AND sw.node = g.w
       |), del0 AS MATERIALIZED (
       |  SELECT seed, node, CAST(0 AS DOUBLE) AS delta FROM c$rounds
       |),
       |$deltas
       |SELECT CAST(node AS BIGINT) AS node, sum(delta) AS betweenness
       |FROM del$rounds WHERE node <> seed
       |GROUP BY 1
       |""".stripMargin
  }

  /** HITS unrolled: per iteration one authority join+fold+normalize
    * then one hub join+fold+normalize — each CTE level IS one
    * half-step of [[graft.bel.Hits.run]]. */
  private def hitsOracle(iterations: Int): String = {
    val steps = (1 to iterations).map { i =>
      s"""a${i}r AS MATERIALIZED (
         |  SELECT e.dst AS node, sum(h.h) AS a0
         |  FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1
         |), a${i}f AS MATERIALIZED (
         |  SELECT v.node, coalesce(r.a0, 0) AS a0
         |  FROM vertices v LEFT JOIN a${i}r r ON r.node = v.node
         |), a$i AS MATERIALIZED (
         |  SELECT node,
         |    CASE WHEN na > 0 THEN a0 / na ELSE 0 END AS a
         |  FROM a${i}f CROSS JOIN
         |    (SELECT sqrt(sum(a0 * a0)) AS na FROM a${i}f)
         |), h${i}r AS MATERIALIZED (
         |  SELECT e.src AS node, sum(a.a) AS h0
         |  FROM e JOIN a$i a ON a.node = e.dst GROUP BY 1
         |), h${i}f AS MATERIALIZED (
         |  SELECT v.node, coalesce(r.h0, 0) AS h0
         |  FROM vertices v LEFT JOIN h${i}r r ON r.node = v.node
         |), h$i AS MATERIALIZED (
         |  SELECT node,
         |    CASE WHEN nh > 0 THEN h0 / nh ELSE 0 END AS h
         |  FROM h${i}f CROSS JOIN
         |    (SELECT sqrt(sum(h0 * h0)) AS nh FROM h${i}f)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS MATERIALIZED (
       |  SELECT 'r:' || n_regionkey AS src, 'n:' || n_nationkey AS dst
       |  FROM nation
       |  UNION ALL
       |  SELECT 'n:' || s_nationkey, 's:' || s_suppkey FROM supplier
       |  UNION ALL
       |  SELECT 's:' || s_suppkey, 'r:' || (s_suppkey % 5)
       |  FROM supplier WHERE s_suppkey % 17 = 0
       |), e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM raw
       |), vertices AS MATERIALIZED (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
       |), h0 AS MATERIALIZED (
       |  SELECT node, CAST(1 AS DOUBLE) AS h FROM vertices
       |),
       |$steps
       |SELECT v.node, h$iterations.h AS hub, a$iterations.a AS authority
       |FROM vertices v
       |JOIN h$iterations ON h$iterations.node = v.node
       |JOIN a$iterations ON a$iterations.node = v.node
       |""".stripMargin
  }

  /** The supplier → nation → region dimension graph (`s:…` → `n:…` →
    * `r:…`): the input of the PageRank, LPA and modularity gates and the
    * default of the matching CLI commands. */
  private[graft] def dimensionEdges(s: SparkSession, d: String): DataFrame =
    t(s, d, "supplier").select(
      concat(lit("s:"), col("s_suppkey")).as("src"),
      concat(lit("n:"), col("s_nationkey")).as("dst"))
      .unionByName(t(s, d, "nation").select(
        concat(lit("n:"), col("n_nationkey")).as("src"),
        concat(lit("r:"), col("n_regionkey")).as("dst")))

  /** [[dimensionEdges]] reversed (region → nation → supplier), so a
    * restart at a region spreads down to its suppliers. */
  private[graft] def reversedDimensionEdges(s: SparkSession,
                                            d: String): DataFrame =
    t(s, d, "nation").select(
      concat(lit("r:"), col("n_regionkey")).as("src"),
      concat(lit("n:"), col("n_nationkey")).as("dst"))
      .unionByName(t(s, d, "supplier").select(
        concat(lit("n:"), col("s_nationkey")).as("src"),
        concat(lit("s:"), col("s_suppkey")).as("dst")))

  /** Sparse directed part graph with cycles (every 53rd order): the SCC
    * gates' input and the `scc` command's default. */
  private[graft] def sccEdges(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_orderkey") % 53 === 0)
      .select((col("l_partkey") % 500).as("src"),
        ((col("l_partkey") * 7 + col("l_suppkey")) % 500).as("dst"))
      .filter(col("src") =!= col("dst"))

  /** Runs an iterative graph gate on a child session with 8 shuffle
    * partitions and AQE off. The gate graphs are dimension-sized (the
    * supplier→nation→region graph has |suppliers| + 30 nodes) and a power
    * loop pays 2 shuffles per iteration: 32-partition exchanges over a
    * 10k-row rank vector are pure per-task overhead. AQE runs each shuffle
    * stage as its own job to re-plan on runtime stats, which an
    * 8-iteration loop turns into job-submission overhead — measured
    * 89 jobs / ~3.3 s with AQE vs 26 jobs / ~2.5 s without on a17, with
    * identical results. (A production web-graph run sizes partitions to
    * the corpus and leaves AQE on; the stream gates scope their state
    * store the same way.) */
  private def fixpointScoped[A](s: SparkSession)(body: SparkSession => A): A =
    withScopedConf(s, "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "false")(body)

  val gates: Seq[Gate] = Seq(
    Gate("a13_components", (s, d) => {
      // Component labels are internal hashes; canonicalize to the min node
      // string per component so the oracle can reproduce them.
      val edges = t(s, d, "supplier").select(
        concat(lit("s:"), col("s_suppkey")).as("src"),
        concat(lit("n:"), col("s_nationkey")).as("dst"))
      val cc = ConnectedComponents.run(edges)
      val canon = cc.groupBy("component").agg(min("node").as("comp"))
      cc.join(canon, "component").select("node", "comp")
    },
      """WITH edges AS (
        |  SELECT 's:' || s_suppkey AS src, 'n:' || s_nationkey AS dst
        |  FROM supplier
        |), und AS (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT src AS u, dst AS v FROM edges
        |    UNION SELECT dst AS u, src AS v FROM edges)
        |  WHERE u <> v
        |), vertices AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
        |), walk AS (
        |  WITH RECURSIVE walk(n, comp) AS (
        |    SELECT node, node FROM vertices
        |    UNION
        |    SELECT e.v, walk.comp FROM walk JOIN und e ON walk.n = e.u
        |  )
        |  SELECT n, comp FROM walk
        |)
        |SELECT n AS node, min(comp) AS comp FROM walk GROUP BY n
        |""".stripMargin),

    // --- PageRank over the supplier→nation→region hierarchy -----------------
    // 8 damped power-iteration steps, value-exact vs an UNROLLED DuckDB
    // oracle (one CTE triple per iteration — contribution aggregate,
    // dangling-mass scalar, rank update). Regions have no out-edges, so
    // the dangling-redistribution path is live, and every arithmetic
    // step ((1 - 0.85)/n, 0.85·(c + m/n)) is the same IEEE double
    // expression in both engines; only summation order differs, which
    // the comparator's 1e-9 relative tolerance absorbs.
    Gate("a17_pagerank", (s, d) => fixpointScoped(s) { ss =>
      graft.bel.PageRank.run(dimensionEdges(ss, d), iterations = 8)
    },
      pagerankOracle(8)),

    // --- Triangle counts / clustering over the co-supply graph --------------
    // Graph construction is itself the operator under test: suppliers are
    // linked when their co-occurring lineitem pairs over shared orders
    // number >= 5 (count(*) over the self-join, so an order with several
    // lineitems per supplier contributes lines1*lines2 — the min-support
    // threshold; without it the co-occurrence graph is near-complete at
    // sf0.1 and triangle counting is vacuous). [[graft.bel.Triangles]] counts
    // per-node triangles via degree-ordered orientation; the oracle is the
    // plain wedge self-join, exact on every (node, deg, triangles, lcc).
    Gate("a18_triangles", (s, d) => {
      graft.bel.Triangles.localTriangles(coSupplyEdges(s, d))
        .select(col("node").cast("long").as("node"), col("deg"),
          col("triangles"), col("lcc"))
    },
      """WITH li AS (SELECT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
        |und AS (
        |  SELECT a.sk AS a, b.sk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |),
        |adj AS (SELECT a AS n, b AS m FROM und
        |        UNION ALL SELECT b AS n, a AS m FROM und),
        |deg AS (SELECT n, count(*) AS deg FROM adj GROUP BY n),
        |tri AS (
        |  SELECT w1.n AS n, count(*) AS t
        |  FROM adj w1 JOIN adj w2 ON w1.n = w2.n AND w1.m < w2.m
        |  JOIN und e ON e.a = w1.m AND e.b = w2.m
        |  GROUP BY 1
        |)
        |SELECT CAST(d.n AS BIGINT) AS node, d.deg AS deg,
        |  CAST(coalesce(t.t, 0) AS BIGINT) AS triangles,
        |  CASE WHEN d.deg >= 2
        |    THEN CAST(2 * coalesce(t.t, 0) AS DOUBLE)
        |         / CAST(d.deg * (d.deg - 1) AS DOUBLE)
        |    ELSE 0.0 END AS lcc
        |FROM deg d LEFT JOIN tri t ON t.n = d.n
        |""".stripMargin),

    // --- k-core extraction (distributed batch peeling) ----------------------
    // Parts co-purchased in ≥ 2 distinct orders; the 3-core strips the
    // co-incidence fringe (~half the nodes at sf0.01, peeling depth 10).
    // Oracle = the peeling loop unrolled to chained CTEs; the Spark side
    // runs to its fixpoint, so the unroll depth only needs to cover the
    // corpus (14 ≥ 10 observed, and peeling past the fixpoint is the
    // identity).
    Gate("a19_kcore", (s, d) =>
      graft.bel.KCore.run(coPurchaseEdges(s, d), k = 3)
        .select(col("node").cast("long").as("node"), col("core_deg")),
      kcoreOracle(3, 14)),

    // --- Multi-source BFS hop distances -------------------------------------
    // "How far is every part from the promoted set?" — seeds are the
    // p_partkey % 50 == 0 parts (graph members or not: isolated seeds
    // report hops 0), edges the ≥2-co-order co-purchase graph the kcore
    // gate memoizes. Spark runs the relaxation to its fixpoint; the
    // oracle unrolls 12 levels, enough past the sf0.01 eccentricity (7)
    // that extra levels are the identity.
    Gate("a21_bfs_hops", (s, d) => {
      val seeds = graft.core.Tables.load(s, d, "part")
        .filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey").as("seed"))
      graft.bel.Bfs.hops(coPurchaseEdges(s, d), seeds)
        .select(col("node").cast("long").as("node"), col("hops"))
    },
      bfsOracle(12)),

    // --- Deterministic random walks (embedding-corpus generator) ------------
    // DeepWalk-posture walks over the co-purchase graph: step t of walk w
    // moves to the neighbor minimizing (md5(w:t:v), v) — hash-seeded,
    // partitioning/engine-independent, so the walk corpus is reproducible
    // and the oracle (per-step row_number argmin, unrolled) exact.
    Gate("g10_random_walks", (s, d) =>
      graft.bel.RandomWalks.walks(coPurchaseEdges(s, d),
        steps = 4),
      walksOracle(4)),

    // --- Skip-gram (center, context) pairs from the walk corpus -------------
    // The embedder-input hop: ordered position pairs within a ±2 band
    // per walk, aggregated to counts — self-join on walk_id only, fan-out
    // bounded by 2·window·(steps+1) per walk.
    Gate("g12_skipgram_pairs", (s, d) =>
      graft.bel.RandomWalks.skipGramPairs(
        graft.bel.RandomWalks.walks(coPurchaseEdges(s, d),
          steps = 4),
        window = 2),
      s"""${walksCte(4)}
         |SELECT a.node AS center, b.node AS context, count(*) AS n
         |FROM wr a JOIN wr b
         |  ON a.walk_id = b.walk_id AND a.pos <> b.pos
         |  AND abs(a.pos - b.pos) <= 2
         |GROUP BY 1, 2
         |""".stripMargin),

    // --- Deterministic KG negative sampling ---------------------------------
    // Corrupt-object negatives for the (order)-[contains]->(part) triple
    // set (every 20th order): entities bucket by salted md5, each
    // (triple, slot) draws from ONE bucket, argmin picks the candidate,
    // a LEFT ANTI join removes any drawn true triple. Same negatives
    // every run, every engine. Bucket count scales with the entity set
    // (target bucket size ~32): a FIXED small bucket count is the
    // anti-pattern — 16 distinct join keys over 20k entities planned 16
    // skewed sort-merge groups and 75M buffered candidates (132 s at
    // sf0.1); |E|/32 buckets keeps the join key space wide and per-slot
    // fan-out constant, independent of corpus scale.
    Gate("g11_negative_samples", (s, d) => {
      val triples = graft.core.Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("s"), lit("contains").as("r"),
          col("l_partkey").as("o"))
        .distinct()
      val entities = graft.core.Tables.load(s, d, "part")
        .select(col("p_partkey").as("e"))
      // dimension-sized driver count (the part table), mirrored exactly
      // by the oracle's scalar subquery
      val buckets = math.max(16L, entities.distinct().count() / 32L).toInt
      graft.bel.NegativeSampling.corruptObjects(triples, entities,
        k = 2, buckets = buckets)
    },
      """WITH nb AS (
        |  SELECT greatest(16, count(DISTINCT p_partkey) // 32) AS b
        |  FROM part
        |), tr AS (
        |  SELECT DISTINCT l_orderkey AS s, 'contains' AS r,
        |    l_partkey AS o
        |  FROM lineitem WHERE l_orderkey % 20 = 0
        |), ent AS (
        |  SELECT DISTINCT p_partkey AS e,
        |    ('0x' || substring(md5(CAST(p_partkey AS VARCHAR) ||
        |      ':negbucket'), 1, 8))::BIGINT % (SELECT b FROM nb) AS b
        |  FROM part
        |), slots AS (
        |  SELECT s, r, o, slot,
        |    ('0x' || substring(md5(CAST(s AS VARCHAR) || ':' || r ||
        |      ':' || CAST(o AS VARCHAR) || ':' ||
        |      CAST(slot AS VARCHAR) || ':negslot'), 1, 8))::BIGINT
        |      % (SELECT b FROM nb) AS b
        |  FROM tr, (SELECT unnest([0, 1]) AS slot)
        |), drawn AS (
        |  SELECT s, r, o, slot, e,
        |    row_number() OVER (PARTITION BY s, r, o, slot
        |      ORDER BY md5(CAST(s AS VARCHAR) || ':' || r || ':' ||
        |        CAST(o AS VARCHAR) || ':' || CAST(slot AS VARCHAR) ||
        |        ':' || CAST(e AS VARCHAR)), e) AS rn
        |  FROM slots JOIN ent USING (b)
        |), neg AS (
        |  SELECT s, r, o, slot, e AS neg_o FROM drawn WHERE rn = 1
        |)
        |SELECT n.s, n.r, n.o, n.slot, n.neg_o FROM neg n
        |ANTI JOIN tr t ON t.s = n.s AND t.r = n.r AND t.o = n.neg_o
        |""".stripMargin),

    // --- Incremental connected components -----------------------------------
    // The persisted-label-index fold: the base graph (supplier→nation
    // stars, 25 components) absorbs a delta batch (nation→region edges)
    // that MERGES them into the 5 region components — the fold re-runs
    // the star loop only over the delta-touched super-graph, never the
    // base edges. Labels canonicalized to the min node string per
    // component (the a13 discipline); the oracle computes components of
    // the FULL union graph independently, so a green row proves
    // fold(index, delta) == from-scratch(base ∪ delta) value-exactly.
    // (An a17-style AQE-off scoping was MEASURED WORSE here -- 4.9 s vs
    // 3.2 s -- the star loop's many tiny convergence-check aggregations
    // benefit from AQE's runtime partition coalescing more than they pay
    // in re-planning jobs; so this gate keeps the session defaults.)
    Gate("a28_incremental_cc", (s, d) => {
      val base = t(s, d, "supplier").select(
        concat(lit("s:"), col("s_suppkey")).as("src"),
        concat(lit("n:"), col("s_nationkey")).as("dst"))
      val delta = t(s, d, "nation").select(
        concat(lit("n:"), col("n_nationkey")).as("src"),
        concat(lit("r:"), col("n_regionkey")).as("dst"))
      val folded = graft.bel.IncrementalCC.fold(
        graft.bel.ConnectedComponents.run(base), delta)
      val canon = folded.groupBy("component").agg(min("node").as("comp"))
      folded.join(canon, "component").select("node", "comp")
    },
      """WITH edges AS (
        |  SELECT 's:' || s_suppkey AS src, 'n:' || s_nationkey AS dst
        |  FROM supplier
        |  UNION ALL
        |  SELECT 'n:' || n_nationkey AS src, 'r:' || n_regionkey AS dst
        |  FROM nation
        |), und AS (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT src AS u, dst AS v FROM edges
        |    UNION SELECT dst AS u, src AS v FROM edges)
        |  WHERE u <> v
        |), vertices AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
        |), walk AS (
        |  WITH RECURSIVE walk(n, comp) AS (
        |    SELECT node, node FROM vertices
        |    UNION
        |    SELECT e.v, walk.comp FROM walk JOIN und e ON walk.n = e.u
        |  )
        |  SELECT n, comp FROM walk
        |)
        |SELECT n AS node, min(comp) AS comp FROM walk GROUP BY n
        |""".stripMargin),

    // --- Persisted incremental-CC label index -------------------------------
    // writeIndex(base) → foldIndex(nation→region) → foldIndex(customer→
    // nation) against the bucket-partitioned layout; read-back labels
    // canonicalized to min node per component must equal the recursive
    // CTE over the 3-way union. The fold chain runs once per (session,
    // sf) — the k18/w_stream_dedup_index layout-memo posture.
    Gate("a28_cc_index_persist", (s, d) => {
      val path = ccIdxMemo(s, d) {
        val base = t(s, d, "supplier").select(
          concat(lit("s:"), col("s_suppkey")).as("src"),
          concat(lit("n:"), col("s_nationkey")).as("dst"))
        val d1 = t(s, d, "nation").select(
          concat(lit("n:"), col("n_nationkey")).as("src"),
          concat(lit("r:"), col("n_regionkey")).as("dst"))
        val d2 = t(s, d, "customer").select(
          concat(lit("c:"), col("c_custkey")).as("src"),
          concat(lit("n:"), col("c_nationkey")).as("dst"))
        val p = s"/tmp/graft_ccidx_${sfTag(d)}"
        rmrf(s, p)
        graft.bel.IncrementalCC.writeIndex(
          graft.bel.ConnectedComponents.run(base), p, buckets = 16)
        graft.bel.IncrementalCC.foldIndex(s, p, d1, buckets = 16)
        graft.bel.IncrementalCC.foldIndex(s, p, d2, buckets = 16)
        p
      }
      val folded = graft.bel.IncrementalCC.readIndex(s, path)
      val canon = folded.groupBy("component").agg(min("node").as("comp"))
      folded.join(canon, "component").select("node", "comp")
    },
      ccUnionOracle),

    // --- Personalized PageRank (seed-restart) -------------------------------
    // Domain expansion over the REVERSED dimension graph: restart mass
    // 3:1 on regions r:0/r:1; ranks flow region→nation→supplier, so
    // suppliers score by weighted proximity to the seed regions. Same
    // AQE/partition scoping as a17 (dimension-sized graph, measured);
    // oracle = the unrolled recurrence with per-node restart mass.
    Gate("a30_ppr", (s, d) => fixpointScoped(s) { ss =>
      import ss.implicits._
      val seeds = Seq(("r:0", 3.0), ("r:1", 1.0)).toDF("node", "weight")
      graft.bel.PageRank.runPersonalized(reversedDimensionEdges(ss, d), seeds,
        iterations = 8)
    },
      pprOracle(8)),

    // --- Weighted PageRank ---------------------------------------------------
    // Link strength as transition probability: supplier→nation edges
    // weighted s_suppkey%7+1, nation→region n_nationkey%3+1 (integer
    // weights, engine-exact); contribution = rank·w / out-strength.
    // Same a17 scoping (dimension graph, measured); oracle = the
    // unrolled recurrence with per-edge weights.
    Gate("a32_pagerank_weighted", (s, d) => fixpointScoped(s) { ss =>
      val sup = t(ss, d, "supplier").select(
        concat(lit("s:"), col("s_suppkey")).as("src"),
        concat(lit("n:"), col("s_nationkey")).as("dst"),
        (col("s_suppkey") % 7 + 1).cast("double").as("weight"))
      val nat = t(ss, d, "nation").select(
        concat(lit("n:"), col("n_nationkey")).as("src"),
        concat(lit("r:"), col("n_regionkey")).as("dst"),
        (col("n_nationkey") % 3 + 1).cast("double").as("weight"))
      graft.bel.PageRank.runWeighted(sup.unionByName(nat), "weight",
        iterations = 8)
    },
      weightedPrOracle(8)),

    // --- Label propagation communities --------------------------------------
    // Synchronous LPA over the undirected dimension graph, 5 rounds,
    // (count desc, label asc) tie-break — the community structure the
    // star-shaped supplier→nation→region graph collapses to. Value-exact
    // against the unrolled per-round SQL (count + row_number winner per
    // node per round); determinism rides the synchronous-update + total
    // tie-break contract the spec pins against a driver-side reference.
    // Perf, MEASURED (sf0.1, local[32], min-of-2): default cut-per-round
    // + session conf = 6.5 s; cutEvery=2 (the step is singly-referenced,
    // so un-cut pairs re-evaluate nothing) = 3.8 s; + the a17 scoping
    // (8 shuffle partitions, AQE off — dimension-sized loop) = 2.5 s.
    Gate("a31_lpa", (s, d) => fixpointScoped(s) { ss =>
      graft.bel.LabelPropagation.run(dimensionEdges(ss, d), iterations = 5)
    },
      lpaOracle(5)),

    // --- Modularity of the LPA communities ----------------------------------
    // Newman Q per community over the SAME undirected dimension graph
    // and the SAME 5-round LPA labeling: internal edge count, degree
    // mass, and q_c = l_c/m − (d_c/2m)² — the accept/reject quality
    // score for discovered clusters. All inputs exact integers; the Q
    // expression is written identically in the oracle (which re-derives
    // the labeling through the shared LPA CTE chain).
    Gate("a33_modularity", (s, d) => fixpointScoped(s) { ss =>
      val edges = dimensionEdges(ss, d)
      graft.bel.Modularity.perCommunity(edges,
        graft.bel.LabelPropagation.run(edges, iterations = 5))
    },
      (s"""WITH ${lpaCtes(5)},
        |lab AS (SELECT node, label FROM l5),
        |deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u),
        |mm AS (SELECT count(*) / 2 AS m FROM und),
        |intra AS (
        |  SELECT la.label AS label, count(*) / 2 AS l_c
        |  FROM und e
        |  JOIN lab la ON la.node = e.u
        |  JOIN lab lb ON lb.node = e.v
        |  WHERE la.label = lb.label
        |  GROUP BY 1
        |), dsum AS (
        |  SELECT l.label, count(*) AS n_nodes, sum(d.deg) AS d_c
        |  FROM deg d JOIN lab l ON l.node = d.node GROUP BY 1
        |)
        |SELECT ds.label, ds.n_nodes, coalesce(i.l_c, 0.0) AS l_c,
        |  CAST(ds.d_c AS DOUBLE) AS d_c,
        |  coalesce(i.l_c, 0.0) / mm.m -
        |    (CAST(ds.d_c AS DOUBLE) / (2.0 * mm.m)) *
        |    (CAST(ds.d_c AS DOUBLE) / (2.0 * mm.m)) AS q_c
        |FROM dsum ds
        |LEFT JOIN intra i ON i.label = ds.label
        |CROSS JOIN mm
        |""").stripMargin),

    // --- Landmark harmonic closeness ------------------------------------------
    // "How central is every part to the promoted set?" — per-landmark
    // BFS over the memoized co-purchase graph (landmarks = p_partkey %
    // 97), folded to exact integer (n_landmarks, hop_mass) and the
    // lcm-exact harmonic sum, so every column is engine-bit-exact. The
    // oracle unrolls the per-seed relaxation 12 levels (past the sf0.01
    // eccentricity of 7, where extra levels are the identity).
    Gate("a34_closeness", (s, d) => {
      val landmarks = t(s, d, "part")
        .filter(col("p_partkey") % 97 === 0)
        .select(col("p_partkey").as("seed"))
      graft.bel.Bfs.harmonicCloseness(
          coPurchaseEdges(s, d), landmarks)
        .select(col("node").cast("long").as("node"), col("n_landmarks"),
          col("hop_mass"), col("harmonic"))
    },
      closenessOracle(12)),

    // --- Personalized AND weighted PageRank ----------------------------------
    // The a30 seed set (r:0 w=3, r:1 w=1 over the reversed dimension
    // graph) with the a32 edge weights (n_nationkey%3+1, s_suppkey%7+1):
    // teleport and dangling mass return to the normalized seed
    // distribution while transitions carry rank·w/out-strength. Same
    // ONE power loop as a17/a30/a32 (PageRank.power — the composition
    // touches disjoint parts of the recurrence, zero new plan shape);
    // same a17 scoping, measured there.
    Gate("a35_ppr_weighted", (s, d) => fixpointScoped(s) { ss =>
      import ss.implicits._
      val rn = t(ss, d, "nation").select(
        concat(lit("r:"), col("n_regionkey")).as("src"),
        concat(lit("n:"), col("n_nationkey")).as("dst"),
        (col("n_nationkey") % 3 + 1).cast("double").as("weight"))
      val ns = t(ss, d, "supplier").select(
        concat(lit("n:"), col("s_nationkey")).as("src"),
        concat(lit("s:"), col("s_suppkey")).as("dst"),
        (col("s_suppkey") % 7 + 1).cast("double").as("weight"))
      val seeds = Seq(("r:0", 3.0), ("r:1", 1.0)).toDF("node", "weight")
      graft.bel.PageRank.runPersonalizedWeighted(rn.unionByName(ns),
        seeds, "weight", iterations = 8)
    },
      pprWeightedOracle(8)),

    // --- Landmark shortest-path counts (the σ stage of Brandes) --------------
    // Per (landmark, node): hop distance AND the exact number of
    // distinct shortest paths, depth-bounded at 4 (σ grows as
    // branching^depth — the k-betweenness posture; the cap also keeps
    // both engines inside BIGINT). Level-synchronous delta-frontier
    // over the memoized co-purchase graph; the oracle unrolls the same
    // frontier/visited recurrence 4 levels.
    Gate("a36_path_counts", (s, d) => {
      val landmarks = t(s, d, "part")
        .filter(col("p_partkey") % 97 === 0)
        .select(col("p_partkey").as("seed"))
      graft.bel.Bfs.pathCounts(coPurchaseEdges(s, d),
          landmarks, maxDepth = 4)
        .select(col("seed").cast("long").as("seed"),
          col("node").cast("long").as("node"), col("hops"),
          col("sigma"))
    },
      pathCountsOracle(4)),

    // --- GNN neighbor-fanout sampling ----------------------------------------
    // The GraphSAGE minibatch extractor: 2-hop (3, 2)-fanout sampled
    // neighborhoods of the %199 landmark parts over the co-purchase
    // graph — per hop one frontier join + one bounded top-k (only
    // parents × k rows cross the exchange), the md5-order draw
    // identical in both engines.
    Gate("g13_neighbor_fanout", (s, d) => {
      val seeds = t(s, d, "part")
        .filter(col("p_partkey") % 199 === 0)
        .select(col("p_partkey").as("seed"))
      graft.bel.RandomWalks.neighborFanout(
          coPurchaseEdges(s, d), seeds, Seq(3, 2))
        .select(col("seed").cast("long").as("seed"), col("hop"),
          col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
    },
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e0 AS MATERIALIZED (
        |  SELECT a.pk AS a, b.pk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), adj AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
        |), f0 AS MATERIALIZED (
        |  SELECT p_partkey AS seed, p_partkey AS node FROM part
        |  WHERE p_partkey % 199 = 0
        |), p1 AS MATERIALIZED (
        |  SELECT seed, u, v FROM (
        |    SELECT f0.seed, adj.u, adj.v, row_number() OVER (
        |      PARTITION BY f0.seed, adj.u
        |      ORDER BY md5(adj.u || ':1:' || adj.v), adj.v) AS rn
        |    FROM f0 JOIN adj ON f0.node = adj.u)
        |  WHERE rn <= 3
        |), f1 AS MATERIALIZED (
        |  SELECT DISTINCT seed, v AS node FROM p1
        |), p2 AS MATERIALIZED (
        |  SELECT seed, u, v FROM (
        |    SELECT f1.seed, adj.u, adj.v, row_number() OVER (
        |      PARTITION BY f1.seed, adj.u
        |      ORDER BY md5(adj.u || ':2:' || adj.v), adj.v) AS rn
        |    FROM f1 JOIN adj ON f1.node = adj.u)
        |  WHERE rn <= 2
        |)
        |SELECT CAST(seed AS BIGINT) AS seed, 1 AS hop,
        |  CAST(u AS BIGINT) AS src, CAST(v AS BIGINT) AS dst
        |FROM p1
        |UNION ALL
        |SELECT CAST(seed AS BIGINT), 2, CAST(u AS BIGINT),
        |  CAST(v AS BIGINT)
        |FROM p2
        |""".stripMargin),

    // --- Landmark betweenness centrality -------------------------------------
    // The full Brandes composition over the a36 forward state: DAG via
    // one 3-way join, per-level backward dependency folds, source rows
    // excluded. Double δ sums (σ-ratios are inherently fractional) —
    // the PageRank float posture, tolerant-compared.
    Gate("a38_betweenness", (s, d) => {
      val landmarks = t(s, d, "part")
        .filter(col("p_partkey") % 97 === 0)
        .select(col("p_partkey").as("seed"))
      graft.bel.Bfs.landmarkBetweenness(
          coPurchaseEdges(s, d), landmarks, maxDepth = 4)
        .select(col("node").cast("long").as("node"), col("betweenness"))
    },
      betweennessOracle(4)),

    // --- Weighted shortest-path costs ----------------------------------------
    // Min-plus relaxation with the edge weight as the step: exact
    // BIGINT costs over the co-purchase graph with symmetric integral
    // weights (p1+p2)%7+1, 12 relaxation rounds in BOTH engines (each
    // oracle level IS one relaxOnce, so the bounded-round contract is
    // engine-identical whether or not the fixpoint lands inside it).
    Gate("a37_weighted_paths", (s, d) => {
      val seeds = t(s, d, "part")
        .filter(col("p_partkey") % 97 === 0)
        .select(col("p_partkey").as("seed"))
      val edges = coPurchaseEdges(s, d)
        .withColumn("w", (col("src") + col("dst")) % 7 + 1)
      graft.bel.Bfs.weightedHops(edges, seeds, "w", maxHops = 12)
        .select(col("node").cast("long").as("node"), col("cost"))
    },
      weightedPathsOracle(12)),

    // --- k-truss decomposition --------------------------------------------------
    // Support peeling with a genuine multi-round cascade: per 16-key
    // part group, a planted 5-clique (edge support 3 — survives k=4
    // forever) and a "bowtie" (hub edge in TWO triangles whose wing
    // edges each sit in one): round 1 peels the wings (support 1),
    // round 2 peels the now-naked hub (support 2 → 0) — the test
    // corpora's natural graphs are truss-degenerate (co-supply is
    // near-complete at sf0.01, co-purchase triangle-sparse), so the
    // gate plants the regime the operator serves, the s_lsh_recall
    // posture. Bounded-round contract: maxRounds = 3 here, and each
    // oracle level IS one peel (the a37 discipline); the operator
    // early-stops at the round-2 fixpoint.
    // 8-partition + AQE-off scoping: the peel loop's per-round joins run
    // on a dimension-sized edge list (the a31/a35 iterative-loop
    // posture; measured 12.6 → ~4 s at sf0.1 — 32-partition task
    // overhead dominated every round)
    Gate("a40_ktruss", (s, d) => fixpointScoped(s) { ss =>
      val p = t(ss, d, "part").select(col("p_partkey").as("pk"),
        (col("p_partkey") % 16).as("m"),
        expr("p_partkey div 16").as("g"))
      val pairs = p.select(col("g"), col("pk").as("src"), col("m").as("m1"))
        .join(p.select(col("g"), col("pk").as("dst"), col("m").as("m2")),
          "g")
        .filter(col("m1") < col("m2"))
      val edges = pairs.filter(
        col("m2") <= 4 ||
          (col("m1") >= 5 && col("m2") <= 8 &&
            !(col("m1") === 7 && col("m2") === 8)))
        .select("src", "dst")
      graft.bel.KTruss.run(edges, k = 4, maxRounds = 3)
        .select(col("a").cast("long").as("a"),
          col("b").cast("long").as("b"))
    },
      {
      def peel(r: Int): String = {
        val p = r - 1
        s"""t$r AS (SELECT a.u AS x, a.v AS y, b.v AS z
           |  FROM e$p a JOIN e$p b ON b.u = a.v
           |  JOIN e$p c ON c.u = a.u AND c.v = b.v),
           |s$r AS (SELECT u, v, count(*) AS c FROM (
           |  SELECT x AS u, y AS v FROM t$r
           |  UNION ALL SELECT x, z FROM t$r
           |  UNION ALL SELECT y, z FROM t$r) GROUP BY 1, 2),
           |e$r AS (SELECT e.u, e.v FROM e$p e
           |  JOIN s$r s ON s.u = e.u AND s.v = e.v WHERE s.c >= 2)"""
          .stripMargin
      }
      s"""WITH p AS (
         |  SELECT p_partkey AS pk, p_partkey % 16 AS m,
         |    p_partkey // 16 AS g
         |  FROM part
         |), e0 AS MATERIALIZED (
         |  SELECT a.pk AS u, b.pk AS v
         |  FROM p a JOIN p b ON a.g = b.g AND a.m < b.m
         |  WHERE b.m <= 4 OR (a.m >= 5 AND b.m <= 8
         |    AND NOT (a.m = 7 AND b.m = 8))
         |),
         |${peel(1)},
         |${peel(2)},
         |${peel(3)}
         |SELECT CAST(u AS BIGINT) AS a, CAST(v AS BIGINT) AS b FROM e3
         |""".stripMargin
    }),

    // --- Degree assortativity ------------------------------------------------------
    // Newman's mixing coefficient over the co-purchase graph: all five
    // sums exact BIGINTs over directed endpoint-degree pairs; r is one
    // IEEE division of exact integers — even the float matches
    // bit-for-bit.
    Gate("a41_assortativity", (s, d) =>
      graft.bel.Assortativity.degreeAssortativity(
        coPurchaseEdges(s, d)),
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), e AS MATERIALIZED (
        |  SELECT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), dir AS (
        |  SELECT u AS a, v AS b FROM e
        |  UNION ALL SELECT v AS a, u AS b FROM e
        |), deg AS (
        |  SELECT a AS id, count(*) AS deg FROM dir GROUP BY 1
        |), p AS (
        |  SELECT dx.deg AS dx, dy.deg AS dy
        |  FROM dir JOIN deg dx ON dx.id = dir.a
        |  JOIN deg dy ON dy.id = dir.b
        |)
        |SELECT CAST(count(*) AS BIGINT) AS m_pairs,
        |  CAST(sum(dx) AS BIGINT) AS s_x,
        |  CAST(sum(dx * dy) AS BIGINT) AS s_xy,
        |  CAST(sum(dx * dx) AS BIGINT) AS s_xx,
        |  CAST(count(*) * sum(dx * dy) - sum(dx) * sum(dx) AS DOUBLE) /
        |    nullif(CAST(count(*) * sum(dx * dx) - sum(dx) * sum(dx)
        |      AS DOUBLE), 0.0) AS r
        |FROM p
        |""".stripMargin),

    // --- Trussness decomposition ---------------------------------------------------
    // Max-k-per-edge over the a40 planted structures plus a
    // triangle-free tail pair per group: K5 edges are trussness 5,
    // bowtie edges 3, tails 2 — the ascending-k peel must recover all
    // three levels. Oracle = one unrolled peel chain PER k (3, 4, 5)
    // from the same base, trussness by first-survivor CASE — every
    // level engine-identical, the a37/a40 bounded-round discipline.
    Gate("a43_trussness", (s, d) => fixpointScoped(s) { ss =>
      val p = t(ss, d, "part").select(col("p_partkey").as("pk"),
        (col("p_partkey") % 16).as("m"),
        expr("p_partkey div 16").as("g"))
      val pairs = p.select(col("g"), col("pk").as("src"), col("m").as("m1"))
        .join(p.select(col("g"), col("pk").as("dst"), col("m").as("m2")),
          "g")
        .filter(col("m1") < col("m2"))
      val edges = pairs.filter(
        col("m2") <= 4 ||
          (col("m1") >= 5 && col("m2") <= 8 &&
            !(col("m1") === 7 && col("m2") === 8)) ||
          (col("m1") === 9 && col("m2") === 10))
        .select("src", "dst")
      graft.bel.KTruss.trussness(edges, maxK = 8)
        .select(col("a").cast("long").as("a"),
          col("b").cast("long").as("b"), col("trussness"))
    },
      {
      // one 3-round peel chain per k from the shared base; CTE names
      // carry the k so the chains stay independent
      def peelK(kk: Int): String = (1 to 3).map { r =>
        val prev = if (r == 1) "e0" else s"k${kk}e${r - 1}"
        s"""k${kk}t$r AS (SELECT a.u AS x, a.v AS y, b.v AS z
           |  FROM $prev a JOIN $prev b ON b.u = a.v
           |  JOIN $prev c ON c.u = a.u AND c.v = b.v),
           |k${kk}s$r AS (SELECT u, v, count(*) AS c FROM (
           |  SELECT x AS u, y AS v FROM k${kk}t$r
           |  UNION ALL SELECT x, z FROM k${kk}t$r
           |  UNION ALL SELECT y, z FROM k${kk}t$r) GROUP BY 1, 2),
           |k${kk}e$r AS MATERIALIZED (SELECT e.u, e.v FROM $prev e
           |  JOIN k${kk}s$r s ON s.u = e.u AND s.v = e.v
           |  WHERE s.c >= ${kk - 2})""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS (
         |  SELECT p_partkey AS pk, p_partkey % 16 AS m,
         |    p_partkey // 16 AS g
         |  FROM part
         |), e0 AS MATERIALIZED (
         |  SELECT a.pk AS u, b.pk AS v
         |  FROM p a JOIN p b ON a.g = b.g AND a.m < b.m
         |  WHERE b.m <= 4 OR (a.m >= 5 AND b.m <= 8
         |    AND NOT (a.m = 7 AND b.m = 8))
         |    OR (a.m = 9 AND b.m = 10)
         |),
         |${peelK(3)},
         |${peelK(4)},
         |${peelK(5)}
         |SELECT CAST(e0.u AS BIGINT) AS a, CAST(e0.v AS BIGINT) AS b,
         |  CASE
         |    WHEN EXISTS (SELECT 1 FROM k5e3 t
         |      WHERE t.u = e0.u AND t.v = e0.v) THEN 5
         |    WHEN EXISTS (SELECT 1 FROM k4e3 t
         |      WHERE t.u = e0.u AND t.v = e0.v) THEN 4
         |    WHEN EXISTS (SELECT 1 FROM k3e3 t
         |      WHERE t.u = e0.u AND t.v = e0.v) THEN 3
         |    ELSE 2
         |  END AS trussness
         |FROM e0
         |""".stripMargin
    }),

    // --- Strongly connected components ----------------------------------------------
    // Directed feed with genuine cycles: a sparse pseudo-random
    // functional-ish digraph over a 500-value domain (deterministic
    // arithmetic on lineitem keys — dense enough for a giant SCC,
    // sparse enough for singleton tendrils around it, so both the
    // peel and the mutual-reachability oracle are exercised on mixed
    // structure). Labels canonicalized to the min member value per
    // component (internal labels are hashes — the a13 discipline).
    Gate("a45_scc", (s, d) => {
      val edges = sccEdges(s, d)
      val scc = graft.bel.Scc.run(edges)
      val canon = scc.groupBy("component").agg(min("node").as("scc"))
      scc.join(canon, "component")
        .select(col("node").cast("long").as("node"),
          col("scc").cast("long").as("scc"))
    },
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l_partkey % 500 AS src,
        |    (l_partkey * 7 + l_suppkey) % 500 AS dst
        |  FROM lineitem
        |  WHERE l_orderkey % 53 = 0
        |    AND l_partkey % 500 <> (l_partkey * 7 + l_suppkey) % 500
        |), n AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        |), r AS MATERIALIZED (
        |  WITH RECURSIVE reach(a, b) AS (
        |    SELECT src, dst FROM e
        |    UNION
        |    SELECT reach.a, e.dst FROM reach JOIN e ON e.src = reach.b
        |  ) SELECT a, b FROM reach
        |)
        |SELECT CAST(node AS BIGINT) AS node, CAST(min(m) AS BIGINT) AS scc
        |FROM (
        |  SELECT node, node AS m FROM n
        |  UNION ALL
        |  SELECT r1.a AS node, r1.b AS m
        |  FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a
        |) GROUP BY 1
        |""".stripMargin),

    // --- SCC condensation (quotient DAG) ----------------------------------------------
    // The cycle-free dependency order over the same directed feed:
    // component-level edges, labels canonicalized to the min member —
    // acyclic by construction (the oracle derives it from the identical
    // mutual-reachability closure, so a cycle would mismatch loudly).
    Gate("a45_condensation", (s, d) => {
      val edges = sccEdges(s, d)
      val scc = graft.bel.Scc.run(edges)
      val canon = scc.groupBy("component").agg(min("node").as("m"))
      val labeled = scc.join(canon, "component")
        .select(col("node"), col("m").as("component"))
      graft.bel.Scc.condensation(edges, labels = Some(labeled))
        .select(col("c_src").cast("long").as("c_src"),
          col("c_dst").cast("long").as("c_dst"))
    },
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l_partkey % 500 AS src,
        |    (l_partkey * 7 + l_suppkey) % 500 AS dst
        |  FROM lineitem
        |  WHERE l_orderkey % 53 = 0
        |    AND l_partkey % 500 <> (l_partkey * 7 + l_suppkey) % 500
        |), n AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        |), r AS MATERIALIZED (
        |  WITH RECURSIVE reach(a, b) AS (
        |    SELECT src, dst FROM e
        |    UNION
        |    SELECT reach.a, e.dst FROM reach JOIN e ON e.src = reach.b
        |  ) SELECT a, b FROM reach
        |), scc AS MATERIALIZED (
        |  SELECT node, min(m) AS m FROM (
        |    SELECT node, node AS m FROM n
        |    UNION ALL
        |    SELECT r1.a AS node, r1.b AS m
        |    FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a
        |  ) GROUP BY 1
        |)
        |SELECT DISTINCT CAST(sa.m AS BIGINT) AS c_src,
        |  CAST(sb.m AS BIGINT) AS c_dst
        |FROM e
        |JOIN scc sa ON sa.node = e.src
        |JOIN scc sb ON sb.node = e.dst
        |WHERE sa.m <> sb.m
        |""".stripMargin),

    // --- HITS hubs and authorities ----------------------------------------------------
    // Kleinberg's mutual power method on the directed dimension graph
    // (a17-style AQE-off + 8-partition scoping: the 12 half-step jobs
    // on a dimension-sized graph are scheduler-bound, and AQE re-plans
    // every shuffle stage as its own job — measured on a17.)
    // (region→nation→supplier plus a sampled supplier→region back-edge
    // set, so hub/authority mass actually cycles instead of draining
    // through a DAG). 6 iterations in BOTH engines, L2 norms riding the
    // plan; doubles tolerant-compared (the a38 posture — IEEE sqrt is
    // exact, only sum order is loose).
    Gate("a47_hits", (s, d) => fixpointScoped(s) { ss =>
      def t2(n: String) = t(ss, d, n)
      val e1 = t2("nation").select(
        concat(lit("r:"), col("n_regionkey")).as("src"),
        concat(lit("n:"), col("n_nationkey")).as("dst"))
      val e2 = t2("supplier").select(
        concat(lit("n:"), col("s_nationkey")).as("src"),
        concat(lit("s:"), col("s_suppkey")).as("dst"))
      val e3 = t2("supplier")
        .filter(col("s_suppkey") % 17 === 0)
        .select(concat(lit("s:"), col("s_suppkey")).as("src"),
          concat(lit("r:"), col("s_suppkey") % 5).as("dst"))
      graft.bel.Hits.run(e1.unionByName(e2).unionByName(e3),
        iterations = 6)
    },
      hitsOracle(6)),

    // --- Weighted Brandes betweenness ------------------------------------------------
    // σ and dependency folds over the equal-cost min-plus DAG of the
    // a37 weighted co-purchase graph — 6 rounds in EACH loop (costs,
    // σ, δ), every oracle level one recurrence step, engine-identical
    // whether or not the fixpoints land inside the bound. Double δ
    // sums, the a38 tolerant-compare posture.
    Gate("a46_weighted_betweenness", (s, d) => {
      val landmarks = t(s, d, "part")
        .filter(col("p_partkey") % 97 === 0)
        .select(col("p_partkey").as("seed"))
      val edges = coPurchaseEdges(s, d)
        .withColumn("w", (col("src") + col("dst")) % 7 + 1)
      graft.bel.Bfs.weightedBetweenness(edges, landmarks, "w", rounds = 6)
        .select(col("node").cast("long").as("node"), col("betweenness"))
    },
      weightedBetweennessOracle(6)),

    // --- Topological levels of the condensation DAG -----------------------------
    // The scheduling consumer of a45: SCC labels canonicalized to min
    // member, quotient edges, then longest-path levels — everything at
    // level L depends only on levels < L, so a pipeline runs the DAG in
    // `depth` parallel waves. Oracle: the a45_condensation CTE chain
    // extended with a recursive longest-path-from-sources CTE (UNION
    // dedups (node, length) pairs, so enumeration is bounded by
    // nodes × depth, never path-count).
    Gate("a50_topo_levels", (s, d) => {
      val edges = sccEdges(s, d)
      val scc = graft.bel.Scc.run(edges)
      val canon = scc.groupBy("component").agg(min("node").as("m"))
      val labeled = scc.join(canon, "component")
        .select(col("node"), col("m").as("component"))
      val quotient = graft.bel.Scc.condensation(edges,
        labels = Some(labeled))
      graft.bel.Scc.topoLevels(quotient, srcCol = "c_src",
          dstCol = "c_dst")
        .select(col("node").cast("long").as("node"), col("level"))
    },
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l_partkey % 500 AS src,
        |    (l_partkey * 7 + l_suppkey) % 500 AS dst
        |  FROM lineitem
        |  WHERE l_orderkey % 53 = 0
        |    AND l_partkey % 500 <> (l_partkey * 7 + l_suppkey) % 500
        |), n AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        |), r AS MATERIALIZED (
        |  WITH RECURSIVE reach(a, b) AS (
        |    SELECT src, dst FROM e
        |    UNION
        |    SELECT reach.a, e.dst FROM reach JOIN e ON e.src = reach.b
        |  ) SELECT a, b FROM reach
        |), scc AS MATERIALIZED (
        |  SELECT node, min(m) AS m FROM (
        |    SELECT node, node AS m FROM n
        |    UNION ALL
        |    SELECT r1.a AS node, r1.b AS m
        |    FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a
        |  ) GROUP BY 1
        |), q AS MATERIALIZED (
        |  SELECT DISTINCT sa.m AS c_src, sb.m AS c_dst
        |  FROM e
        |  JOIN scc sa ON sa.node = e.src
        |  JOIN scc sb ON sb.node = e.dst
        |  WHERE sa.m <> sb.m
        |), p AS (
        |  WITH RECURSIVE walk(node, l) AS (
        |    SELECT c_src, 0 FROM q
        |    WHERE c_src NOT IN (SELECT c_dst FROM q)
        |    UNION
        |    SELECT q.c_dst, walk.l + 1 FROM walk
        |    JOIN q ON q.c_src = walk.node
        |  ) SELECT node, max(l) AS level FROM walk GROUP BY 1
        |)
        |SELECT CAST(node AS BIGINT) AS node, CAST(level AS BIGINT) AS level
        |FROM p
        |""".stripMargin))
}
