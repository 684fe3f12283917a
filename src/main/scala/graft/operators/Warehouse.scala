package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftQuery, Tables}

/** Round-4 warehouse operator families: the ops-and-analytics passes a
  * production warehouse runs beside the reference's ingestion DAG
  * (reference: dags/firmographics_ingestion.py orchestrates models; the
  * questions below are what its consumers ask of the loaded tables).
  * Each query keeps the determinism discipline of the registry: exact
  * DECIMAL reduction wherever a float sum feeds a comparison or rank,
  * rounding BEFORE any rank/cut, and explicit tiebreaks.
  */
object Warehouse {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** q100: dynamic column profiling — the "data card" every table needs
    * before a training run reads it: per column null count, exact
    * distinct count, and type-aware formatted min/max. The profile is
    * built PROGRAMMATICALLY from the schema (no per-table hand-written
    * SQL): one aggregation pass computes 4 stats x N columns, then a
    * single `stack` unpivots the 1-row result — so profiling a 100-TB
    * table costs one scan + one expand for the distincts (at corpus
    * scale the exact count_distinct swaps for approx_count_distinct,
    * the trade q32 validates). Formatting parity: doubles print via
    * DECIMAL(18,2) (both engines render "36453.47"), timestamps via a
    * fixed pattern — never raw double->string, whose scientific-notation
    * cutoffs differ across engines.
    */
  def q100ColumnProfile(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    def fmt(name: String, dt: DataType, agg: Column => Column): Column = dt match {
      case TimestampType =>
        date_format(agg(col(name)), "yyyy-MM-dd HH:mm:ss")
      case DoubleType =>
        agg(col(name)).cast(DecimalType(18, 2)).cast("string")
      case _ => agg(col(name)).cast("string")
    }
    // round 14 (optimization): the null-count sums and count_distincts
    // aggregate LONGs, but min/max over the two string columns put
    // STRING buffers in the same aggregation — and a string buffer is
    // not HashAggregate-mutable, so the ONE fused pass sort-aggregated
    // the Expand(x7)-multiplied table (a sort of ~7x|orders| wide rows,
    // the whole cost of this query at bench scale). Split the string-
    // buffered min/max into their own pass over the UN-expanded table:
    // the distinct pass stays hash-aggregated end to end, the sort pass
    // sees 7x fewer rows, and the two 1-row results cross-join back.
    // Values are bit-identical (same aggregates, same inputs) - guide
    // S5 "hash aggregate vs. sort aggregate" / S2.3 shuffle fewer bytes.
    val aggs: Seq[Column] = o.schema.fields.flatMap { f =>
      Seq(
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"nn_${f.name}"),
        count_distinct(col(f.name)).as(s"nd_${f.name}"))
    }.toSeq
    val mmAggs: Seq[Column] = o.schema.fields.flatMap { f =>
      Seq(fmt(f.name, f.dataType, min).as(s"mn_${f.name}"),
        fmt(f.name, f.dataType, max).as(s"mx_${f.name}"))
    }.toSeq
    val one = o.agg(aggs.head, aggs.tail: _*)
      .crossJoin(o.agg(mmAggs.head, mmAggs.tail: _*))
    val stackArgs = o.schema.fields
      .map(f => s"'${f.name}', nn_${f.name}, nd_${f.name}, mn_${f.name}, mx_${f.name}")
      .mkString(", ")
    one.selectExpr(
      s"stack(${o.schema.fields.length}, $stackArgs) AS (col_name, n_null, n_distinct, min_v, max_v)")
      .orderBy("col_name")
  }

  private val q100Sql = {
    val cols = Seq(
      ("o_orderkey", "CAST(%s AS VARCHAR)"),
      ("o_custkey", "CAST(%s AS VARCHAR)"),
      ("o_orderstatus", "CAST(%s AS VARCHAR)"),
      ("o_totalprice", "CAST(CAST(%s AS DECIMAL(18,2)) AS VARCHAR)"),
      ("o_orderdate", "strftime(%s, '%%Y-%%m-%%d %%H:%%M:%%S')"),
      ("o_orderpriority", "CAST(%s AS VARCHAR)"))
    cols.map { case (c, f) =>
      s"""SELECT '$c' AS col_name,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  ${f.format(s"min($c)")} AS min_v,
         |  ${f.format(s"max($c)")} AS max_v
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  private val KnnK = GraphIndex.KnnK // oracle CTEs pin the literal 3

  /** q102: triangle census of the k-NN-sparsified co-supply graph —
    * nodes are suppliers; each keeps an edge only to its top-3 partners
    * by shared-order support (ties on partner id). Raw co-occurrence
    * graphs saturate — at sf0.01 every supplier pair shares >= 2 orders,
    * a complete graph whose triangle count is just C(n,3) — so the
    * sparsification IS the operator: top-k-per-node bounds degree (and
    * therefore all downstream wedge/triangle work) by a constant at ANY
    * corpus scale, the same device ANN graphs (HNSW neighbor lists) use.
    * Triangles then enumerate in canonical orientation a < b < c via
    * edge-edge-edge join — each counted once, no /6 correction — and the
    * global clustering coefficient 3*tri/wedges falls out of integer
    * arithmetic. The only unbounded stage left is the pair-support
    * aggregation, one shuffle keyed on the pair — linear in lineitem.
    */
  /** Canonical (sa < sb) edge list of the k-NN-sparsified co-supply
    * graph — the shared substrate of the q102 triangle census, the q202
    * k-core peel and the q203 clustering-coefficient profile. The
    * sparsification (top-[[KnnK]] partners per supplier by shared-order
    * support, ties on partner id) is what makes EVERY downstream graph
    * pass scale: degree — and therefore wedge, triangle and peel work —
    * is bounded by a constant at any corpus size.
    */
  private def knnCoSupplyEdges(s: SparkSession, dir: String): DataFrame =
    // round 11: reads the [[GraphIndex]] artifact (support statistic +
    // deterministic top-K cut persisted once, O(delta)-appendable)
    // instead of re-running the lineitem self-join per query; a pure
    // function of the source bytes, so the q102/q202/q203/q208 oracles'
    // relational re-derivation stays exact
    GraphIndex.knnEdges(s, dir)

  /** The DuckDB mirror of [[knnCoSupplyEdges]] — CTEs ending in `e`
    * (canonical sa < sb rows), shared by the q102/q202/q203 oracles.
    */
  private val knnGraphCtes =
    """base AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
      |              FROM lineitem),
      |sup AS (
      |  SELECT a.sk AS src, b.sk AS dst, count(*) AS support
      |  FROM base a JOIN base b ON a.ok = b.ok AND a.sk <> b.sk
      |  GROUP BY a.sk, b.sk),
      |pick AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst, row_number() OVER (PARTITION BY src
      |      ORDER BY support DESC, dst ASC) AS rn
      |    FROM sup)
      |  WHERE rn <= 3),
      |e AS (
      |  SELECT DISTINCT least(src, dst) AS sa, greatest(src, dst) AS sb
      |  FROM pick)""".stripMargin

  def q102Triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = knnCoSupplyEdges(s, dir).persist()
    val tri = edges.as("e1")
      .join(edges.as("e2"), $"e1.sb" === $"e2.sa")
      .select($"e1.sa".as("x"), $"e1.sb".as("y"), $"e2.sb".as("z"))
      .join(edges.as("e3"), $"x" === $"e3.sa" && $"z" === $"e3.sb")
      .agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select($"sa".as("n")).union(edges.select($"sb".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
      .agg(sum(($"deg" * ($"deg" - 1)) / 2).cast("long").as("n_wedges"),
        count(lit(1)).as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    // edges stays persisted across its three consumers; release is the
    // caller's clearCache (the Bench/Verify isolation contract).
    tri.crossJoin(deg).crossJoin(nEdges)
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        round(lit(3.0) * $"n_triangles" / $"n_wedges", 6).as("clustering"))
  }

  private val q102Sql =
    s"""WITH $knnGraphCtes,
      |tri AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM e e1
      |  JOIN e e2 ON e1.sb = e2.sa
      |  JOIN e e3 ON e1.sa = e3.sa AND e2.sb = e3.sb),
      |deg AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS deg
      |  FROM (SELECT sa AS n FROM e UNION ALL SELECT sb AS n FROM e)
      |  GROUP BY n),
      |w AS (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges,
      |        CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
      |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |  round(3e0 * n_triangles / n_wedges, 6) AS clustering
      |FROM tri CROSS JOIN w CROSS JOIN ne""".stripMargin

  /** Minimum degree a node needs to survive a q202 peel round. */
  private val CoreK = 4

  /** Fixed peel-round budget, mirrored in the unrolled oracle. The q102
    * graph is 3-degenerate by construction (every node picks top-3
    * partners), so its 4-core is EMPTY and the peel is a full cascade —
    * measured at 4 rounds for sf0.001..0.1; 6 leaves slack. If a corpus
    * ever needed more, both engines stop at the same round 6 state, so
    * the gate still matches — the budget bounds work, not correctness.
    */
  private val PeelRounds = 6

  /** q202: k-core decomposition by iterative peeling over the q102
    * co-supply graph — the graph-family member that answers COHESION
    * ("which nodes sit in a dense mutually-connected core") where q89
    * ranks importance, q140 finds communities and q145 measures reach.
    * Each round deletes every node whose degree IN THE SURVIVING
    * subgraph is < [[CoreK]]; a node's peel round is its coreness
    * witness (the standard degeneracy-ordering construction). The
    * output is the peel histogram: round 0 = the k-core itself (empty
    * here — the honest result on a 3-degenerate graph, stated not
    * hidden), rounds 1.. = the cascade, which is the actual
    * demonstration: removing the sparse fringe re-exposes new
    * under-degree nodes round after round. Scale shape: per round one
    * semi-join-restricted degree count + one left join, all keyed on
    * node — frontier-proportional like q145, never quadratic; rounds
    * run through [[Fixpoint]]. Early stop when a round removes nothing
    * (every later round would no-op, exactly as the oracle's remaining
    * CTEs do).
    */
  def q202KcorePeel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val canon = knnCoSupplyEdges(s, dir)
    val edges = canon.select($"sa".as("src"), $"sb".as("dst"))
      .unionByName(canon.select($"sb".as("src"), $"sa".as("dst")))
    // the state is every node with the round that peeled it (NULL while
    // live), so a round's removal set is its change set
    val init = edges.select($"src".as("node")).distinct()
      .withColumn("peel_round", lit(null).cast("int"))
    val peel = Fixpoint(PeelRounds, edges)(init) { (prev, round) =>
      val live = prev.filter($"peel_round".isNull)
      val deg = edges
        .join(live.select($"node".as("src")), Seq("src"), "left_semi")
        .join(live.select($"node".as("dst")), Seq("dst"), "left_semi")
        .groupBy($"src".as("node")).agg(count(lit(1)).as("c"))
      val cut = $"peel_round".isNull && coalesce($"c", lit(0L)) < CoreK
      prev.join(deg, Seq("node"), "left")
        .select($"node", when(cut, lit(round)).otherwise($"peel_round")
          .as("peel_round"), cut.as(Fixpoint.Changed))
    }
    peel.select($"node", coalesce($"peel_round", lit(0)).as("peel_round"))
      .groupBy($"peel_round")
      .agg(count(lit(1)).as("n_nodes"),
        min($"node").as("first_node"), max($"node").as("last_node"))
      .orderBy($"peel_round")
  }

  private val q202Sql = {
    // Every per-round CTE is MATERIALIZED: n_i is referenced three
    // times by round i+1, so DuckDB's default inlining would expand the
    // chain EXPONENTIALLY (3^rounds scans of the base tables — measured
    // as an fd-exhaustion crash at 6 rounds). Materialization makes the
    // oracle linear in rounds, same as the Spark loop's localCheckpoint.
    def round(i: Int) =
      s"""d$i AS MATERIALIZED (
         |  SELECT e2.src AS node, count(*) AS c FROM e2
         |  WHERE e2.src IN (SELECT node FROM n${i - 1})
         |    AND e2.dst IN (SELECT node FROM n${i - 1})
         |  GROUP BY 1),
         |r$i AS MATERIALIZED (
         |  SELECT n.node, $i AS peel_round
         |  FROM n${i - 1} n LEFT JOIN d$i d ON n.node = d.node
         |  WHERE coalesce(d.c, 0) < $CoreK),
         |n$i AS MATERIALIZED (
         |  SELECT node FROM n${i - 1}
         |  WHERE node NOT IN (SELECT node FROM r$i))""".stripMargin
    val chain = (1 to PeelRounds).map(round).mkString(",\n")
    val unionAll = (1 to PeelRounds)
      .map(i => s"SELECT node, peel_round FROM r$i")
      .mkString("\n  UNION ALL ")
    s"""WITH $knnGraphCtes,
       |e2 AS MATERIALIZED (SELECT sa AS src, sb AS dst FROM e
       |       UNION ALL SELECT sb, sa FROM e),
       |n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e2),
       |$chain,
       |peeled AS (
       |  $unionAll
       |  UNION ALL SELECT node, 0 AS peel_round FROM n$PeelRounds)
       |SELECT peel_round, CAST(count(*) AS BIGINT) AS n_nodes,
       |  min(node) AS first_node, max(node) AS last_node
       |FROM peeled
       |GROUP BY 1
       |ORDER BY peel_round""".stripMargin
  }

  /** Minimum triangle support a q208 edge needs (k-truss with k = 4:
    * every surviving edge sits in >= k-2 = 2 triangles of the truss).
    */
  private val TrussMinSupport = 2

  /** Fixed peel-round budget for q208 (measured convergence: 2 rounds
    * at sf0.001/0.01, 1 at sf0.1; 4 leaves slack, and past convergence
    * both engines no-op identically — the q202 argument).
    */
  private val TrussRounds = 4

  /** q208: k-truss decomposition — q202's peel at EDGE granularity, the
    * standard strictly-stronger cohesion filter (Cohen 2008): each
    * round recounts triangle SUPPORT inside the surviving subgraph and
    * deletes every edge in fewer than [[TrussMinSupport]] triangles.
    * A node survives k-core on degree alone (a hub of bridges passes);
    * an edge survives the truss only if its endpoints share >= k-2
    * common neighbors — bridges die, triangle-dense cores stay. Output
    * is the edge-peel histogram, round 0 = the truss (EMPTY at gate SF
    * beyond sf0.001 — stated, and itself informative: the top-3
    * co-supply graph has pockets of triangles but no 2-triangle-deep
    * edge community). Per round: one canonical 3-way self-join
    * (degree-bounded, the q102 shape) + corner-explode to per-edge
    * support + one left join — all keyed on the edge pair; rounds run
    * through [[Fixpoint]], q202's peel-round state. The oracle unrolls
    * the same rounds as MATERIALIZED CTEs (q202's exponential-inlining
    * lesson).
    */
  def q208KtrussPeel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val init = knnCoSupplyEdges(s, dir)
      .withColumn("peel_round", lit(null).cast("int")).localCheckpoint()
    val peel = Fixpoint(TrussRounds)(init) { (prev, round) =>
      val cur = prev.filter($"peel_round".isNull).select($"sa", $"sb")
      val tri = cur.as("e1")
        .join(cur.as("e2"), $"e1.sb" === $"e2.sa")
        .select($"e1.sa".as("x"), $"e1.sb".as("y"), $"e2.sb".as("z"))
        .join(cur.as("e3"), $"x" === $"e3.sa" && $"z" === $"e3.sb")
        .select($"x", $"y", $"z")
      val support = tri.select($"x".as("sa"), $"y".as("sb"))
        .unionByName(tri.select($"y".as("sa"), $"z".as("sb")))
        .unionByName(tri.select($"x".as("sa"), $"z".as("sb")))
        .groupBy($"sa", $"sb").agg(count(lit(1)).as("sup"))
      val cut = $"peel_round".isNull &&
        coalesce($"sup", lit(0L)) < TrussMinSupport
      prev.join(support, Seq("sa", "sb"), "left")
        .select($"sa", $"sb", when(cut, lit(round)).otherwise($"peel_round")
          .as("peel_round"), cut.as(Fixpoint.Changed))
    }
    peel.select($"sa", $"sb", coalesce($"peel_round", lit(0)).as("peel_round"))
      .groupBy($"peel_round")
      .agg(count(lit(1)).as("n_edges"),
        min($"sa").as("min_node"), max($"sb").as("max_node"))
      .orderBy($"peel_round")
  }

  private val q208Sql = {
    def round(i: Int) =
      s"""tri$i AS MATERIALIZED (
         |  SELECT e1.sa AS x, e1.sb AS y, e2.sb AS z
         |  FROM c${i - 1} e1
         |  JOIN c${i - 1} e2 ON e1.sb = e2.sa
         |  JOIN c${i - 1} e3 ON e1.sa = e3.sa AND e2.sb = e3.sb),
         |sup$i AS MATERIALIZED (
         |  SELECT sa, sb, count(*) AS sup FROM (
         |    SELECT x AS sa, y AS sb FROM tri$i
         |    UNION ALL SELECT y, z FROM tri$i
         |    UNION ALL SELECT x, z FROM tri$i)
         |  GROUP BY 1, 2),
         |rm$i AS MATERIALIZED (
         |  SELECT c.sa, c.sb, $i AS peel_round
         |  FROM c${i - 1} c LEFT JOIN sup$i s
         |    ON c.sa = s.sa AND c.sb = s.sb
         |  WHERE coalesce(s.sup, 0) < $TrussMinSupport),
         |c$i AS MATERIALIZED (
         |  SELECT sa, sb FROM c${i - 1}
         |  EXCEPT SELECT sa, sb FROM rm$i)""".stripMargin
    val chain = (1 to TrussRounds).map(round).mkString(",\n")
    val unionAll = (1 to TrussRounds)
      .map(i => s"SELECT sa, sb, peel_round FROM rm$i")
      .mkString("\n  UNION ALL ")
    s"""WITH $knnGraphCtes,
       |c0 AS MATERIALIZED (SELECT sa, sb FROM e),
       |$chain,
       |peeled AS (
       |  $unionAll
       |  UNION ALL SELECT sa, sb, 0 AS peel_round FROM c$TrussRounds)
       |SELECT peel_round, CAST(count(*) AS BIGINT) AS n_edges,
       |  min(sa) AS min_node, max(sb) AS max_node
       |FROM peeled
       |GROUP BY 1
       |ORDER BY peel_round""".stripMargin
  }

  /** q203: per-node LOCAL clustering coefficient profile of the q102
    * graph — q102 reports the single global coefficient; this query
    * answers the per-node question behind ego-net feature extraction
    * ("how clique-like is each node's neighborhood"): coef(v) =
    * 2·tri(v) / (deg(v)·(deg(v)−1)). Triangles enumerate once in the
    * canonical a<b<c orientation (q102's join), then EXPLODE to their
    * three corners for the per-node count — 3 rows per triangle, the
    * exact dual of q102's /3-free census. The profile groups by the
    * exact INTEGER pair (deg, tri) — never by the float coefficient,
    * whose bucket boundaries would be an engine-dependent hash hazard —
    * and derives the rounded coefficient from the pair. Scale: degree
    * is [[KnnK]]-bounded, so triangle work is O(nodes·k²) and the
    * profile is one shuffle on node plus one on the (deg, tri) pair.
    */
  def q203LocalClustering(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = knnCoSupplyEdges(s, dir).persist()
    val tri = edges.as("e1")
      .join(edges.as("e2"), $"e1.sb" === $"e2.sa")
      .select($"e1.sa".as("x"), $"e1.sb".as("y"), $"e2.sb".as("z"))
      .join(edges.as("e3"), $"x" === $"e3.sa" && $"z" === $"e3.sb")
      .select($"x", $"y", $"z")
    val triPerNode = tri
      .select(explode(array($"x", $"y", $"z")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("tri"))
    val deg = edges.select($"sa".as("node"))
      .unionByName(edges.select($"sb".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    deg.join(triPerNode, Seq("node"), "left")
      .select($"deg", coalesce($"tri", lit(0L)).as("tri"))
      .groupBy($"deg", $"tri")
      .agg(count(lit(1)).as("n_nodes"))
      .withColumn("local_coef",
        round(lit(2.0) * $"tri" / ($"deg" * ($"deg" - 1)), 6))
      .orderBy($"deg", $"tri")
  }

  private val q203Sql =
    s"""WITH $knnGraphCtes,
      |tri AS (
      |  SELECT e1.sa AS x, e1.sb AS y, e2.sb AS z
      |  FROM e e1
      |  JOIN e e2 ON e1.sb = e2.sa
      |  JOIN e e3 ON e1.sa = e3.sa AND e2.sb = e3.sb),
      |tpn AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS tri
      |  FROM (SELECT x AS node FROM tri
      |        UNION ALL SELECT y FROM tri
      |        UNION ALL SELECT z FROM tri)
      |  GROUP BY node),
      |deg AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS deg
      |  FROM (SELECT sa AS node FROM e UNION ALL SELECT sb AS node FROM e)
      |  GROUP BY node)
      |SELECT deg, tri, n_nodes,
      |  round(2e0 * tri / (deg * (deg - 1)), 6) AS local_coef
      |FROM (
      |  SELECT d.deg, coalesce(t.tri, 0) AS tri,
      |    CAST(count(*) AS BIGINT) AS n_nodes
      |  FROM deg d LEFT JOIN tpn t ON d.node = t.node
      |  GROUP BY 1, 2)
      |ORDER BY deg, tri""".stripMargin

  /** q104: gaps-and-islands — merge each customer's overlapping order
    * activity windows ([orderdate, orderdate+30d)) into maximal covered
    * intervals. The classic warehouse sessionization-over-intervals
    * shape (q14 sessionizes point events; this merges SPANS): running
    * `max(end)` over the start-ordered history detects island breaks,
    * a running sum of break flags numbers the islands, two keyed
    * aggregations collapse them. Every window and shuffle keys on
    * o_custkey — one partitioning reused end-to-end, no join at all.
    */
  def q104IntervalMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val iv = t(s, dir, "orders")
      .select($"o_custkey", to_date($"o_orderdate").as("st"))
      .withColumn("en", date_add($"st", 30))
    val byStart = Window.partitionBy($"o_custkey")
      .orderBy($"st".asc, $"en".asc)
    val prevEnd = max($"en").over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = iv
      .withColumn("brk", when(prevEnd.isNull || $"st" > prevEnd, 1L).otherwise(0L))
      .withColumn("island", sum($"brk").over(
        byStart.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy($"o_custkey", $"island")
      .agg(min($"st").as("ist"), max($"en").as("ien"), count(lit(1)).as("n"))
      .groupBy($"o_custkey")
      .agg(sum($"n").as("n_orders"),
        count(lit(1)).as("n_islands"),
        sum(datediff($"ien", $"ist")).as("covered_days"))
      .orderBy($"o_custkey")
  }

  private val q104Sql =
    """WITH iv AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS st,
      |    CAST(o_orderdate AS DATE) + 30 AS en
      |  FROM orders),
      |f AS (
      |  SELECT o_custkey, st, en,
      |    CASE WHEN max(en) OVER (PARTITION BY o_custkey
      |           ORDER BY st, en
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |         OR st > max(en) OVER (PARTITION BY o_custkey
      |           ORDER BY st, en
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 0 END AS brk
      |  FROM iv),
      |g AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY o_custkey ORDER BY st, en
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
      |  FROM f),
      |isl AS (
      |  SELECT o_custkey, island, min(st) AS ist, max(en) AS ien,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM g GROUP BY o_custkey, island)
      |SELECT o_custkey, CAST(sum(n) AS BIGINT) AS n_orders,
      |  CAST(count(*) AS BIGINT) AS n_islands,
      |  CAST(sum(date_diff('day', ist, ien)) AS BIGINT) AS covered_days
      |FROM isl
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** q105: co-occurrence lift over order baskets at BRAND granularity —
    * market-basket association mining's first pass. Brand-level
    * blocking is the scale decision: a basket holds at most |brands|=25
    * distinct brands, so the per-basket pair fan-out is bounded by
    * C(25,2) regardless of corpus size (part-level pairs would grow
    * with basket size squared). lift = P(a,b)/(P(a)P(b)) from integer
    * counts only — no float accumulation anywhere until the final
    * deterministic divide, rounded before the sort.
    */
  def q105CopurchaseLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val basket = t(s, dir, "lineitem")
      .join(t(s, dir, "part").select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("ok"), $"p_brand").distinct()
    val nOrders = basket.select($"ok").distinct()
      .agg(count(lit(1)).as("n_orders"))
    val marg = basket.groupBy($"p_brand").agg(count(lit(1)).as("n_b"))
    val pairs = basket.as("a").join(basket.as("b"), Seq("ok"))
      .filter($"a.p_brand" < $"b.p_brand")
      .groupBy($"a.p_brand".as("brand_a"), $"b.p_brand".as("brand_b"))
      .agg(count(lit(1)).as("pair_n"))
    pairs
      .join(broadcast(marg).withColumnRenamed("p_brand", "brand_a")
        .withColumnRenamed("n_b", "n_a"), Seq("brand_a"))
      .join(broadcast(marg).withColumnRenamed("p_brand", "brand_b"), Seq("brand_b"))
      .crossJoin(broadcast(nOrders))
      .select($"brand_a", $"brand_b", $"pair_n",
        round($"pair_n".cast("double") / $"n_orders", 6).as("support"),
        round($"pair_n".cast("double") * $"n_orders" / ($"n_a" * $"n_b"), 6)
          .as("lift"))
      .orderBy($"lift".desc, $"brand_a".asc, $"brand_b".asc)
  }

  private val q105Sql =
    """WITH basket AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM basket),
      |m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_b
      |      FROM basket GROUP BY p_brand),
      |p AS (
      |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
      |    CAST(count(*) AS BIGINT) AS pair_n
      |  FROM basket a JOIN basket b ON a.ok = b.ok AND a.p_brand < b.p_brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, pair_n,
      |  round(CAST(pair_n AS DOUBLE) / n_orders, 6) AS support,
      |  round(CAST(pair_n AS DOUBLE) * n_orders / (ma.n_b * mb.n_b), 6) AS lift
      |FROM p
      |JOIN m ma ON ma.p_brand = brand_a
      |JOIN m mb ON mb.p_brand = brand_b
      |CROSS JOIN n
      |ORDER BY lift DESC, brand_a, brand_b""".stripMargin

  /** q106: multi-touch LINEAR attribution — every click in the 7-day
    * lookback of a purchase shares the credit equally (q79 is the
    * last-touch policy over the same stream; together they bracket the
    * standard attribution model family). The purchase-click pairing is
    * a per-user range join — bounded by the lookback window, so the
    * per-key fan-out is (clicks in 7 days), not all history. Credit
    * 1/k per pair is rounded to 12 digits and summed as DECIMAL, the
    * registry's standard device for order-independent float reduction.
    */
  def q106LinearAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts".as("cts"))
    val purch = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("pts"))
    val pairs = purch.join(clicks, Seq("user_id"))
      .filter($"cts" < $"pts" &&
        unix_timestamp($"pts") - unix_timestamp($"cts") <= 604800L)
    val k = pairs.groupBy($"purchase_id").agg(count(lit(1)).as("k"))
    pairs.join(k, Seq("purchase_id"))
      .select($"click_id", $"user_id",
        round(lit(1.0) / $"k", 12).cast(DecimalType(18, 12)).as("credit0"))
      .groupBy($"click_id", $"user_id")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum($"credit0").cast("double"), 6).as("credit"))
      .orderBy($"click_id")
  }

  private val q106Sql =
    """WITH c AS (SELECT user_id, event_id AS click_id, ts AS cts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS pts
      |      FROM events WHERE event_type = 'purchase'),
      |pr AS (
      |  SELECT purchase_id, click_id, user_id
      |  FROM p JOIN c USING (user_id)
      |  WHERE cts < pts AND date_diff('second', cts, pts) <= 604800),
      |k AS (SELECT purchase_id, CAST(count(*) AS BIGINT) AS k
      |      FROM pr GROUP BY purchase_id)
      |SELECT click_id, user_id, CAST(count(*) AS BIGINT) AS n_purchases,
      |  round(CAST(sum(CAST(round(1e0 / k, 12) AS DECIMAL(18,12))) AS DOUBLE), 6)
      |    AS credit
      |FROM pr JOIN k USING (purchase_id)
      |GROUP BY click_id, user_id
      |ORDER BY click_id""".stripMargin

  /** q107: frequency-ordered dictionary encoding of a categorical
    * column — the feature-engineering pass that turns p_type strings
    * into dense integer codes (code 0 = most frequent; ties broken
    * lexicographically so the dictionary is engine-independent). The
    * dictionary is vocabulary-sized, so it BROADCASTS back onto the fact
    * table: encoding 100 TB costs one scan + one map-side hash probe,
    * never a shuffle of the facts. The same shape serves int-keyed
    * embedding tables and parquet dictionary pre-encoding.
    */
  def q107LabelEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val parts = t(s, dir, "part")
    val dict = parts.groupBy($"p_type").agg(count(lit(1)).as("type_n"))
      .withColumn("type_code",
        row_number().over(Window.orderBy($"type_n".desc, $"p_type".asc)) - 1)
    parts.select($"p_partkey", $"p_type")
      .join(broadcast(dict), Seq("p_type"))
      .select($"p_partkey", $"p_type", $"type_code".cast("int").as("type_code"),
        $"type_n")
      .orderBy($"p_partkey")
  }

  private val q107Sql =
    """WITH d AS (
      |  SELECT p_type, CAST(count(*) AS BIGINT) AS type_n,
      |    CAST(row_number() OVER (ORDER BY count(*) DESC, p_type ASC) - 1
      |      AS INTEGER) AS type_code
      |  FROM part GROUP BY p_type)
      |SELECT p_partkey, p_type, type_code, type_n
      |FROM part JOIN d USING (p_type)
      |ORDER BY p_partkey""".stripMargin

  /** q108: per-nation revenue trend — ordinary-least-squares slope and
    * intercept of monthly revenue against a month index, computed from
    * SUFFICIENT STATISTICS (n, Σx, Σx², Σy, Σxy) so the regression
    * distributes as one keyed aggregation (the same partial-aggregate
    * algebra q94 merges incrementally). Exactness: monthly revenue and
    * the xy cross term are DECIMAL sums (x is an integer month index,
    * y money — the product carries exactly 2 decimals), so both engines
    * hand IDENTICAL doubles to the final slope/intercept arithmetic;
    * one round(…,6) absorbs nothing but the display.
    */
  def q108TrendRegression(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val monthly = t(s, dir, "orders")
      .join(t(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(t(s, dir, "nation")
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .select($"n_name",
        ((year($"o_orderdate") - 1992) * 12 + month($"o_orderdate") - 1)
          .cast("long").as("x"),
        $"o_totalprice".cast(DecimalType(18, 2)).as("y0"))
      .groupBy($"n_name", $"x")
      .agg(sum($"y0").as("y"))
    monthly.groupBy($"n_name")
      .agg(count(lit(1)).as("n_months"),
        sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx"),
        sum($"y").as("sy"),
        sum($"y" * $"x").as("sxy"))
      .select($"n_name", $"n_months",
        // n_months = 1 makes the OLS denominator (n·Σx² - Σx²) exactly 0:
        // a single-month nation has no trend — report null, never NaN/Inf
        // (which Spark and DuckDB serialize differently).
        round(when($"n_months" > 1,
          (($"n_months" * $"sxy".cast("double")) - ($"sx" * $"sy".cast("double"))) /
            (($"n_months" * $"sxx") - ($"sx" * $"sx"))), 6).as("slope"),
        round(when($"n_months" > 1,
          ($"sy".cast("double") / $"n_months") -
            ((($"n_months" * $"sxy".cast("double")) - ($"sx" * $"sy".cast("double"))) /
              (($"n_months" * $"sxx") - ($"sx" * $"sx"))) *
              ($"sx".cast("double") / $"n_months")), 6).as("intercept"))
      .orderBy($"n_name")
  }

  private val q108Sql =
    """WITH m AS (
      |  SELECT n_name,
      |    CAST((date_part('year', o_orderdate) - 1992) * 12
      |      + date_part('month', o_orderdate) - 1 AS BIGINT) AS x,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS y
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_months,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
      |    sum(y) AS sy, sum(y * x) AS sxy
      |  FROM m GROUP BY 1)
      |SELECT n_name, n_months,
      |  round(CASE WHEN n_months > 1 THEN
      |    (n_months * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
      |    / (n_months * sxx - sx * sx) END, 6) AS slope,
      |  round(CASE WHEN n_months > 1 THEN
      |    CAST(sy AS DOUBLE) / n_months
      |    - ((n_months * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
      |       / (n_months * sxx - sx * sx)) * (CAST(sx AS DOUBLE) / n_months)
      |  END, 6) AS intercept
      |FROM s
      |ORDER BY n_name""".stripMargin

  /** q146: grouped ROC-AUC — the model-evaluation gate a training
    * pipeline runs on every scored batch: does a score rank positives
    * above negatives, per segment? Computed WITHOUT a per-row rank (and
    * without the float rank-sum): AUC = P(score_pos > score_neg) +
    * ½·P(tie), counted EXACTLY by grouping rows to distinct (group,
    * score) cells — score cast to DECIMAL(18,2) so the cell key is
    * exact — then one cumulative window over the CELL table (cells, not
    * rows: the window input is bounded by score cardinality) accumulates
    * negatives-below; concordant = Σ pos_i·cumneg_i and ties =
    * Σ pos_i·neg_i stay in BIGINT until the single final division, so
    * both engines hand identical doubles to round(…,6). Degenerate
    * groups (no positives or no negatives) emit null, never 0/0 — the
    * q108/q114 guard discipline. Scale: one keyed aggregation to cells
    * + one cell-sized window — no row-level sort of the 100 TB scores.
    */
  def q146GroupedAuc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = t(s, dir, "orders")
      .select($"o_orderpriority",
        $"o_totalprice".cast(DecimalType(18, 2)).as("score"),
        when($"o_orderstatus" === "F", 1L).otherwise(0L).as("pos"))
      .groupBy($"o_orderpriority", $"score")
      .agg(sum($"pos").as("p"), sum(lit(1L) - $"pos").as("n"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"score".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("cumneg", coalesce(sum($"n").over(w), lit(0L)))
      .groupBy($"o_orderpriority")
      .agg(sum($"p").as("n_pos"), sum($"n").as("n_neg"),
        sum($"p" * $"cumneg").as("conc"), sum($"p" * $"n").as("ties"))
      .select($"o_orderpriority", $"n_pos", $"n_neg",
        round(when($"n_pos" > 0 && $"n_neg" > 0,
          ($"conc".cast("double") + $"ties" * 0.5) /
            ($"n_pos".cast("double") * $"n_neg")), 6).as("auc"))
      .orderBy($"o_orderpriority")
  }

  private val q146Sql =
    """WITH cells AS (
      |  SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS score,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS p,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n
      |  FROM orders GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, COALESCE(CAST(sum(n) OVER (PARTITION BY o_orderpriority
      |    ORDER BY score ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    AS BIGINT), 0) AS cumneg
      |  FROM cells),
      |agg AS (
      |  SELECT o_orderpriority,
      |    CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_neg,
      |    CAST(sum(p * cumneg) AS BIGINT) AS conc,
      |    CAST(sum(p * n) AS BIGINT) AS ties
      |  FROM cum GROUP BY 1)
      |SELECT o_orderpriority, n_pos, n_neg,
      |  round(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |    (CAST(conc AS DOUBLE) + 0.5 * ties) / (CAST(n_pos AS DOUBLE) * n_neg)
      |  END, 6) AS auc
      |FROM agg
      |ORDER BY o_orderpriority""".stripMargin

  /** q149: seasonal anomaly detection — the monitoring pass a streaming
    * warehouse runs on every metric: build a per-(event_type,
    * hour-of-day) seasonal baseline, then flag events whose value sits
    * more than 3 sample standard deviations from their OWN season's
    * mean (a raw global z-score would flag every nightly peak as an
    * anomaly; the seasonal profile is the point). Two passes, both
    * cheap: one keyed aggregation to the |types|×24 baseline — exact
    * DECIMAL sufficient statistics (Σv, Σv²), so both engines derive
    * bit-identical means/stds in double — and one broadcast join-back
    * (the baseline is domain-sized, never stream-sized) to score rows.
    * Degenerate seasons (n=1 or zero variance) emit null z — the
    * q108/q146 guard — and anomaly counts stay exact integers.
    */
  def q149SeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"event_type", hour($"ts").as("hod"),
        $"value".cast(DecimalType(18, 2)).as("v"))
    val stats = ev.groupBy($"event_type", $"hod")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
        sum($"v" * $"v").as("svv"))
      .select($"event_type", $"hod", $"n",
        ($"sv".cast("double") / $"n").as("mean"),
        when($"n" > 1,
          sqrt(($"svv".cast("double") -
            $"sv".cast("double") * $"sv".cast("double") / $"n") /
            ($"n" - 1))).as("std"))
    ev.join(broadcast(stats), Seq("event_type", "hod"))
      .withColumn("az",
        when($"std" > 0, abs(($"v".cast("double") - $"mean") / $"std")))
      .groupBy($"event_type", $"hod")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"az" > 3.0, 1L).otherwise(0L)).as("n_anomalies"),
        round(max($"az"), 6).as("max_abs_z"))
      .orderBy($"event_type", $"hod")
  }

  private val q149Sql =
    """WITH ev AS (
      |  SELECT event_type, CAST(date_part('hour', ts) AS INTEGER) AS hod,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |stats AS (
      |  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n,
      |    sum(v) AS sv, sum(CAST(v AS DECIMAL(19,2)) * v) AS svv
      |  FROM ev GROUP BY 1, 2),
      |b AS (
      |  SELECT event_type, hod, n,
      |    CAST(sv AS DOUBLE) / n AS mean,
      |    CASE WHEN n > 1 THEN
      |      sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
      |           / (n - 1)) END AS std
      |  FROM stats),
      |scored AS (
      |  SELECT ev.event_type, ev.hod,
      |    CASE WHEN std > 0 THEN abs((CAST(v AS DOUBLE) - mean) / std) END AS az
      |  FROM ev JOIN b USING (event_type, hod))
      |SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN az > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
      |  round(max(az), 6) AS max_abs_z
      |FROM scored
      |GROUP BY event_type, hod
      |ORDER BY event_type, hod""".stripMargin

  /** q153: calibration / reliability table — q146's AUC says a score
    * RANKS well; this says whether it means what it claims as a
    * PROBABILITY (the property that decides if you can threshold it):
    * bucket a deterministic logistic score into 10 fixed-width
    * probability bins and compare each bin's mean predicted probability
    * with its observed positive rate, plus the per-bin Brier
    * contribution. Determinism: the score is rounded to DECIMAL(8,6)
    * per row BEFORE anything aggregates — binning, Σp̂ and Σ(p̂−y)² are
    * then exact decimal/integer arithmetic, so both engines hand
    * identical values to the final divisions (the libm exp() sits
    * upstream of the rounding, where a 1-ulp difference cannot move a
    * 6-decimal value). One keyed aggregation to a 10-row table; the
    * fixed-width bins are the q38 histogram discipline (no global
    * quantile sort).
    */
  def q153Calibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = t(s, dir, "orders")
      .select(
        round(lit(1.0) /
          (lit(1.0) + exp(-($"o_totalprice" - 150000.0) / 50000.0)), 6)
          .cast(DecimalType(8, 6)).as("p_hat"),
        when($"o_orderstatus" === "F", 1L).otherwise(0L).as("y"))
      .withColumn("bin", floor($"p_hat" * 10).cast("int"))
    scored.groupBy($"bin")
      .agg(count(lit(1)).as("n"),
        sum($"p_hat").as("sp"),
        sum($"y").as("n_pos"),
        sum(($"p_hat" - $"y") * ($"p_hat" - $"y")).as("sq"))
      .select($"bin", $"n", $"n_pos",
        round($"sp".cast("double") / $"n", 6).as("mean_p"),
        round($"n_pos".cast("double") / $"n", 6).as("obs_rate"),
        round(abs($"sp".cast("double") / $"n" -
          $"n_pos".cast("double") / $"n"), 6).as("gap"),
        round($"sq".cast("double") / $"n", 6).as("brier"))
      .orderBy($"bin")
  }

  private val q153Sql =
    """WITH scored AS (
      |  SELECT CAST(round(1e0 / (1e0 + exp(-(o_totalprice - 150000e0) / 50000e0)), 6)
      |           AS DECIMAL(8,6)) AS p_hat,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |b AS (
      |  SELECT CAST(floor(p_hat * 10) AS INTEGER) AS bin,
      |    CAST(count(*) AS BIGINT) AS n,
      |    sum(p_hat) AS sp,
      |    CAST(sum(y) AS BIGINT) AS n_pos,
      |    sum(CAST(p_hat - y AS DECIMAL(19,6)) * (p_hat - y)) AS sq
      |  FROM scored GROUP BY 1)
      |SELECT bin, n, n_pos,
      |  round(CAST(sp AS DOUBLE) / n, 6) AS mean_p,
      |  round(CAST(n_pos AS DOUBLE) / n, 6) AS obs_rate,
      |  round(abs(CAST(sp AS DOUBLE) / n - CAST(n_pos AS DOUBLE) / n), 6) AS gap,
      |  round(CAST(sq AS DOUBLE) / n, 6) AS brier
      |FROM b
      |ORDER BY bin""".stripMargin

  private val DecayRef = "1998-08-02"
  private val DecayHalfLifeDays = 365.0

  /** q159: exponential-decay (half-life) revenue features — the
    * freshness weighting a training-data pipeline applies when recent
    * examples should count more than stale ones (sample weighting,
    * churn features, data-mixture recency boosts). Each order
    * contributes value · 2^(−age/halflife); the libm pow is ROUNDED to
    * 8 digits BEFORE the multiply (the q121 idf discipline — one
    * bounded-libm value per row, never a float accumulation) and the
    * decayed terms are exact DECIMAL products summed exactly, so the
    * aggregate is summation-order-independent and engine-identical.
    * Shape: one broadcast dim join + one keyed aggregation — at 100 TB
    * this is a scan with map-side partials, nothing else.
    */
  def q159DecayFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = t(s, dir, "orders").select($"o_custkey",
      datediff(to_date(lit(DecayRef)), to_date($"o_orderdate")).as("age"),
      $"o_totalprice".cast(DecimalType(18, 2)).as("v"))
    val seg = t(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
    o.withColumn("w",
        round(pow(lit(0.5), $"age" / lit(DecayHalfLifeDays)), 8)
          .cast(DecimalType(12, 8)))
      // no broadcast hint: customer is corpus-proportional (unlike a
      // true dimension) — let AQE pick broadcast while it fits and fall
      // back to a shuffle join when it doesn't
      .join(seg, $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum($"v").as("raw_rev"),
        sum(($"w" * $"v")).as("dec_rev"))
      // fixed-scale DECIMAL output: a cast to double diverges in the last
      // ulp between engines on 16-digit sums (Spark converts via
      // BigDecimal, DuckDB from int128 arithmetic) — decimals compare as
      // exact strings
      .select($"c_mktsegment".as("segment"), $"n_orders",
        $"raw_rev".cast(DecimalType(20, 2)).as("raw_revenue"),
        round($"dec_rev", 4).cast(DecimalType(24, 4)).as("decayed_revenue"),
        round($"dec_rev".cast("double") / $"raw_rev".cast("double"), 6)
          .as("freshness_ratio"))
      .orderBy($"segment")
  }

  private val q159Sql =
    s"""WITH o AS (
       |  SELECT o_custkey,
       |    date_diff('day', CAST(o_orderdate AS DATE), DATE '$DecayRef') AS age,
       |    CAST(o_totalprice AS DECIMAL(18,2)) AS v
       |  FROM orders),
       |w AS (
       |  SELECT o_custkey, v,
       |    CAST(round(pow(0.5, age / $DecayHalfLifeDays), 8) AS DECIMAL(12,8)) AS w
       |  FROM o)
       |SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_orders,
       |  CAST(sum(v) AS DECIMAL(20,2)) AS raw_revenue,
       |  CAST(round(sum(w * v), 4) AS DECIMAL(24,4)) AS decayed_revenue,
       |  round(CAST(sum(w * v) AS DOUBLE) / CAST(sum(v) AS DOUBLE), 6)
       |    AS freshness_ratio
       |FROM w JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1
       |ORDER BY segment""".stripMargin

  private val KmStudyEnd = "1998-08-01"

  /** q156: Kaplan–Meier survival curve of time-to-repeat-order — the
    * censoring-aware answer to "how long until a customer comes back"
    * that a naive average of observed gaps gets WRONG (customers who
    * have not reordered yet are information, not missing data). Each
    * customer contributes a duration (first → second order) and an
    * event flag; customers with no second order by the study end are
    * CENSORED at it. The estimator S(t) = Π(1 − dᵢ/nᵢ) runs entirely on
    * the duration-domain table: risk sets are a descending cumulative
    * sum, the product a cumulative Σln inside exp(). Scale shape: two
    * keyed aggregations collapse 100 TB of orders to one row per
    * customer, then one row per distinct DURATION — calendar-bounded
    * (days between dates), so the two global windows run over a
    * few-thousand-row table at any corpus size (the q95 allowlist
    * argument). Integer d/n ratios keep every term engine-identical;
    * round(…,6) absorbs the ≤1e-13 libm-ln drift of the summed logs.
    */
  def q156SurvivalKm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val end = to_date(lit(KmStudyEnd))
    val o = t(s, dir, "orders")
      .select($"o_custkey", to_date($"o_orderdate").as("d"))
    val first = o.groupBy($"o_custkey").agg(min($"d").as("t1"))
    val second = o.join(first, Seq("o_custkey"))
      .filter($"d" > $"t1")
      .groupBy($"o_custkey").agg(min($"d").as("t2"))
    val subj = first.join(second, Seq("o_custkey"), "left")
      .filter($"t1" <= end)
      .select(
        ($"t2".isNotNull && $"t2" <= end).as("ev"),
        when($"t2".isNotNull && $"t2" <= end, datediff($"t2", $"t1"))
          .otherwise(datediff(end, $"t1")).as("dur"))
    val km = subj.groupBy($"dur")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"ev", 1L).otherwise(0L)).as("d"),
        sum(when($"ev", 0L).otherwise(1L)).as("c"))
    val wDesc = Window.orderBy($"dur".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy($"dur".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // d == n_risk (everyone still at risk is an event — only possible at
    // the max duration) makes the factor 1 − d/n = 0: survival is exactly
    // 0 from there on, but log(0) is NULL in Spark (silently skipped by
    // the window sum → wrong non-zero tail) and -inf in DuckDB — an
    // engine divergence. Guard: log only when d < n_risk, and force
    // survival to 0 once any row has d == n_risk.
    km.withColumn("n_risk", sum($"n_total").over(wDesc))
      .withColumn("dead",
        max(when($"d" === $"n_risk", 1).otherwise(0)).over(wAsc))
      .withColumn("survival",
        when($"dead" === 1, lit(0.0)).otherwise(
          round(exp(sum(when($"d" < $"n_risk",
              log(lit(1.0) - $"d".cast("double") / $"n_risk")))
            .over(wAsc)), 6)))
      .select($"dur", $"n_risk", $"d".as("n_events"), $"c".as("n_censored"),
        $"survival")
      .orderBy($"dur")
  }

  private val q156Sql =
    s"""WITH o AS (
       |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders),
       |f AS (SELECT o_custkey, min(d) AS t1 FROM o GROUP BY 1),
       |s2 AS (
       |  SELECT o.o_custkey, min(d) AS t2
       |  FROM o JOIN f USING (o_custkey) WHERE d > t1 GROUP BY 1),
       |subj AS (
       |  SELECT (t2 IS NOT NULL AND t2 <= DATE '$KmStudyEnd') AS ev,
       |    CAST(CASE WHEN t2 IS NOT NULL AND t2 <= DATE '$KmStudyEnd'
       |         THEN date_diff('day', t1, t2)
       |         ELSE date_diff('day', t1, DATE '$KmStudyEnd') END AS INTEGER)
       |      AS dur
       |  FROM f LEFT JOIN s2 USING (o_custkey)
       |  WHERE t1 <= DATE '$KmStudyEnd'),
       |km AS (
       |  SELECT dur, CAST(count(*) AS BIGINT) AS n_total,
       |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS c
       |  FROM subj GROUP BY 1),
       |r AS (
       |  SELECT *, CAST(sum(n_total) OVER (ORDER BY dur DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS n_risk
       |  FROM km)
       |SELECT dur, n_risk, d AS n_events, c AS n_censored,
       |  CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
       |         OVER (ORDER BY dur ASC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
       |  THEN 0e0
       |  ELSE round(exp(sum(CASE WHEN d < n_risk
       |      THEN ln(1e0 - CAST(d AS DOUBLE) / n_risk) END)
       |    OVER (ORDER BY dur ASC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
       |  END AS survival
       |FROM r
       |ORDER BY dur""".stripMargin

  /** q141: weight-of-evidence feature binning — the credit-scoring /
    * feature-engineering encode that turns a continuous feature into a
    * monotone-risk code: bin the feature, then per bin
    * WOE = ln((bad_i/bad_tot)/(good_i/good_tot)) against a binary
    * target (here: the line item was RETURNED, l_returnflag = 'R'). One
    * keyed aggregation + a 1-row totals broadcast — two passes over
    * nothing bigger than the bin table, any corpus size. q107 encodes
    * CATEGORICAL features by frequency; this encodes CONTINUOUS ones by
    * target risk — together the supervised/unsupervised halves of
    * tabular feature prep. Bins are fixed-width (floor(price/5000) —
    * DuckDB has no width_bucket, and exact quantile bins would need
    * q72's total sort); degenerate bins (no bads or no goods) emit
    * null WOE rather than ±Infinity, the q108 discipline. The IV term
    * per bin sums to the feature's information value.
    */
  def q141WoeBinning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byBin = t(s, dir, "lineitem")
      .select(floor($"l_extendedprice" / 5000).cast("int").as("bin"),
        ($"l_returnflag" === "R").as("bad"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"),
        sum(when($"bad", 1L).otherwise(0L)).as("n_bad"))
      .withColumn("n_good", $"n" - $"n_bad")
    val tot = byBin.agg(sum($"n_bad").as("t_bad"),
      sum($"n_good").as("t_good"))
    val pb = $"n_bad".cast("double") / $"t_bad"
    val pg = $"n_good".cast("double") / $"t_good"
    val ok = $"n_bad" > 0 && $"n_good" > 0
    byBin.crossJoin(broadcast(tot))
      .select($"bin", $"n", $"n_bad", $"n_good",
        round(when(ok, log(pb / pg)), 6).as("woe"),
        round(when(ok, (pb - pg) * log(pb / pg)), 6).as("iv_term"))
      .orderBy($"bin")
  }

  private val q141Sql =
    """WITH b AS (
      |  SELECT CAST(floor(l_extendedprice / 5000) AS INTEGER) AS bin,
      |    (l_returnflag = 'R') AS bad
      |  FROM lineitem),
      |g AS (
      |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
      |  FROM b GROUP BY 1),
      |g2 AS (SELECT bin, n, n_bad, n - n_bad AS n_good FROM g),
      |t AS (SELECT CAST(sum(n_bad) AS BIGINT) AS t_bad,
      |        CAST(sum(n_good) AS BIGINT) AS t_good FROM g2)
      |SELECT bin, n, n_bad, n_good,
      |  round(CASE WHEN n_bad > 0 AND n_good > 0 THEN
      |    ln((CAST(n_bad AS DOUBLE) / t_bad) /
      |       (CAST(n_good AS DOUBLE) / t_good)) END, 6) AS woe,
      |  round(CASE WHEN n_bad > 0 AND n_good > 0 THEN
      |    (CAST(n_bad AS DOUBLE) / t_bad - CAST(n_good AS DOUBLE) / t_good)
      |    * ln((CAST(n_bad AS DOUBLE) / t_bad) /
      |         (CAST(n_good AS DOUBLE) / t_good)) END, 6) AS iv_term
      |FROM g2 CROSS JOIN t
      |ORDER BY bin""".stripMargin

  private val StratTarget = 60

  /** q101: stratified deterministic sampling — per-language quotas
    * (target 60 docs/stratum) drawn with the registry's no-RNG contract
    * (q50/q59/q90): each doc's "uniform" comes from a salted md5 of its
    * id, so the drawn set survives re-runs, backfills and re-sharding,
    * and two DIFFERENT sampling passes (different salts) are
    * independent. rate = min(1, target/|stratum|) comes from a
    * stratum-count aggregate that BROADCASTS back — sampling 100 TB is
    * one scan + one map-side probe. Expected (not exact) quota per
    * stratum: the price of a single-pass, join-free draw; exact-k would
    * need a per-stratum top-k by hash (q90's shape).
    */
  def q101StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").select($"doc_id", $"lang")
    val strata = docs.groupBy($"lang").agg(count(lit(1)).as("n_stratum"))
    val h = conv(substring(md5(concat(lit("strat"), $"doc_id".cast("string"))),
      1, 8), 16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    docs.join(broadcast(strata), Seq("lang"))
      .withColumn("rate", least(lit(1.0), lit(StratTarget.toDouble) / $"n_stratum"))
      .withColumn("u", u)
      .filter($"u" < $"rate")
      .select($"doc_id", $"lang", $"n_stratum",
        round($"rate", 6).as("rate"), round($"u", 6).as("u"))
      .orderBy($"doc_id")
  }

  private val q101Sql =
    s"""WITH st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_stratum
      |            FROM documents GROUP BY lang),
      |d AS (
      |  SELECT doc_id, lang, n_stratum,
      |    least(1e0, ${StratTarget}e0 / n_stratum) AS rate,
      |    (('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      + 0.5e0) / 4294967296e0 AS u
      |  FROM documents JOIN st USING (lang))
      |SELECT doc_id, lang, n_stratum, round(rate, 6) AS rate, round(u, 6) AS u
      |FROM d WHERE u < rate
      |ORDER BY doc_id""".stripMargin

  /** q110: pairwise Pearson correlation matrix from SUFFICIENT
    * STATISTICS — per return flag, corr over (quantity, price, discount)
    * computed from one keyed aggregation of 10 exact-DECIMAL sums, then
    * unpivoted with `stack`. The point at 100 TB: N-column correlation
    * is ONE scan + one tiny shuffle (the stats are O(k²) per group),
    * never k² passes of the builtin corr — and because every sum is
    * exact decimal (inputs carry <= 2 decimal digits, products <= 4),
    * both engines hand bit-identical doubles to the final formula
    * (sqrt is IEEE-correctly-rounded, unlike ln/exp, so it needs no
    * rounding guard).
    */
  def q110CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // revenue = price*(1-disc) is DERIVED from price, so the matrix
    // carries both regimes: a near-1 pair (price, revenue) and near-0
    // pairs against quantity (the synthetic price is qty-independent) —
    // a flat all-zero matrix would test nothing.
    // Tight per-row precisions (q<=50, p<=7 digits of money, r likewise)
    // keep every PRODUCT inside 38 digits on BOTH engines — DuckDB
    // multiplies DECIMAL(18)s in int64 and overflows; (12,2)x(12,2) and
    // (16,4)x(16,4) stay exact in int128, and Spark never enters its
    // precision-loss path.
    // r14 optimization: 10 exact-decimal product-sums per row over a
    // 1-3-task scan serialize the query; spread first (sums are exact
    // decimals - order-free). Measured sf0.1: 2.22 s -> 1.81 s median.
    val li = Tables.loadSpread(s, dir, "lineitem").select($"l_returnflag",
      $"l_quantity".cast(DecimalType(9, 2)).as("q"),
      $"l_extendedprice".cast(DecimalType(12, 2)).as("p"),
      ($"l_extendedprice".cast(DecimalType(12, 2)) *
        (lit(BigDecimal(1).setScale(2)).cast(DecimalType(3, 2)) -
          $"l_discount".cast(DecimalType(3, 2))))
        .cast(DecimalType(16, 4)).as("r"))
    val stats = li.groupBy($"l_returnflag").agg(
      count(lit(1)).as("n"),
      sum($"q").cast("double").as("sq"), sum($"p").cast("double").as("sp"),
      sum($"r").cast("double").as("sr"),
      sum($"q" * $"q").cast("double").as("sqq"),
      sum($"p" * $"p").cast("double").as("spp"),
      sum($"r" * $"r").cast("double").as("srr"),
      sum($"q" * $"p").cast("double").as("sqp"),
      sum($"q" * $"r").cast("double").as("sqr"),
      sum($"p" * $"r").cast("double").as("spr"))
    def corr(sx: Column, sy: Column, sxx: Column, syy: Column, sxy: Column) =
      round(($"n" * sxy - sx * sy) /
        (sqrt($"n" * sxx - sx * sx) * sqrt($"n" * syy - sy * sy)), 6)
    stats.select($"l_returnflag", $"n",
        corr($"sq", $"sp", $"sqq", $"spp", $"sqp").as("c_qty_price"),
        corr($"sq", $"sr", $"sqq", $"srr", $"sqr").as("c_qty_rev"),
        corr($"sp", $"sr", $"spp", $"srr", $"spr").as("c_price_rev"))
      .selectExpr("l_returnflag", "n",
        "stack(3, 'qty_price', c_qty_price, 'qty_rev', c_qty_rev, " +
          "'price_rev', c_price_rev) AS (pair, corr)")
      .orderBy($"l_returnflag", $"pair")
  }

  private val q110Sql =
    """WITH li AS (
      |  -- DECIMAL(19,_): forces int128 storage — DuckDB multiplies in the
      |  -- OPERAND width and overflows int64 on DECIMAL(<=18) products
      |  SELECT l_returnflag, CAST(l_quantity AS DECIMAL(19,2)) AS q,
      |    CAST(l_extendedprice AS DECIMAL(19,2)) AS p,
      |    CAST(CAST(l_extendedprice AS DECIMAL(19,2)) *
      |      (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
      |      AS DECIMAL(19,4)) AS r
      |  FROM lineitem),
      |st AS (
      |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(p) AS DOUBLE) AS sp,
      |    CAST(sum(r) AS DOUBLE) AS sr,
      |    CAST(sum(q * q) AS DOUBLE) AS sqq, CAST(sum(p * p) AS DOUBLE) AS spp,
      |    CAST(sum(r * r) AS DOUBLE) AS srr,
      |    CAST(sum(q * p) AS DOUBLE) AS sqp, CAST(sum(q * r) AS DOUBLE) AS sqr,
      |    CAST(sum(p * r) AS DOUBLE) AS spr
      |  FROM li GROUP BY l_returnflag),
      |m AS (
      |  SELECT l_returnflag, n, 'qty_price' AS pair,
      |    round((n * sqp - sq * sp) /
      |      (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 6) AS corr
      |  FROM st
      |  UNION ALL
      |  SELECT l_returnflag, n, 'qty_rev',
      |    round((n * sqr - sq * sr) /
      |      (sqrt(n * sqq - sq * sq) * sqrt(n * srr - sr * sr)), 6)
      |  FROM st
      |  UNION ALL
      |  SELECT l_returnflag, n, 'price_rev',
      |    round((n * spr - sp * sr) /
      |      (sqrt(n * spp - sp * sp) * sqrt(n * srr - sr * sr)), 6)
      |  FROM st)
      |SELECT l_returnflag, n, pair, corr
      |FROM m
      |ORDER BY l_returnflag, pair""".stripMargin

  /** q111: curation-funnel audit — the per-stage rows_in/rows_out report
    * of a chained cleaning pipeline (exact dedup -> language filter ->
    * length band), computed in ONE pass: every stage's keep-decision is
    * a row-local flag (the dedup stage's window is the only shuffle),
    * so the whole funnel costs what its most expensive stage costs,
    * not stages x scans. This is the composition story: q17 (dedup),
    * q25 (lang-id) and q48 (quality gates) as ONE audited run — the
    * report a 100-TB curation job must emit to be debuggable (which
    * stage ate the corpus?).
    */
  def q111CurationFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // q17's deterministic re-crawl union: every 10th doc re-arrives under
    // a shifted id, so the dedup stage has real duplicates to eat (the
    // base table is exact-dup-free by construction).
    val docs = t(s, dir, "documents")
    val corpus = docs.unionByName(
      docs.filter($"doc_id" % 10 === 0).withColumn("doc_id", $"doc_id" + Dedup.TwinOffset))
    val wDedup = Window.partitionBy(md5($"text")).orderBy($"doc_id".asc)
    val flags = corpus
      .withColumn("k1", row_number().over(wDedup) === 1)
      .withColumn("wc", size(split($"text", " ")))
      .withColumn("k2", $"k1" && $"lang" === "en")
      .withColumn("k3", $"k2" && $"wc".between(30, 120))
    flags.agg(
        count(lit(1)).as("n0"),
        sum(when($"k1", 1L).otherwise(0L)).as("n1"),
        sum(when($"k2", 1L).otherwise(0L)).as("n2"),
        sum(when($"k3", 1L).otherwise(0L)).as("n3"))
      .selectExpr(
        "stack(3, '1_exact_dedup', n0, n1, '2_lang_en', n1, n2, " +
          "'3_length_band', n2, n3) AS (stage, rows_in, rows_out)")
      .withColumn("dropped", $"rows_in" - $"rows_out")
      .orderBy($"stage")
  }

  private val q111Sql =
    """WITH corpus AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000, lang, text FROM documents WHERE doc_id % 10 = 0),
      |f AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS k1,
      |    len(string_split(text, ' ')) AS wc
      |  FROM corpus),
      |g AS (
      |  SELECT *, (k1 AND lang = 'en') AS k2,
      |    (k1 AND lang = 'en' AND wc BETWEEN 30 AND 120) AS k3
      |  FROM f),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n0,
      |    CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
      |  FROM g)
      |SELECT stage, rows_in, rows_out, rows_in - rows_out AS dropped
      |FROM (
      |  SELECT '1_exact_dedup' AS stage, n0 AS rows_in, n1 AS rows_out FROM a
      |  UNION ALL
      |  SELECT '2_lang_en', n1, n2 FROM a
      |  UNION ALL
      |  SELECT '3_length_band', n2, n3 FROM a)
      |ORDER BY stage""".stripMargin

  /** q126: TIME-interval RANGE window frame — each event's trailing
    * 24-hour activity (count + exact value sum) over the same user's
    * stream, the sliding-window feature the ROWS-frame family (q71's
    * day-grain RANGE -6..0) cannot express when events are irregular:
    * the frame is bounded by TIME, so peers at identical timestamps all
    * enter the frame and the result is deterministic even under order
    * ties. Spark's RangeFrame takes a numeric order key — integer
    * MICROSECONDS here, exactly DuckDB's `RANGE BETWEEN INTERVAL 24
    * HOURS PRECEDING` over the timestamp. One shuffle on user_id; frame
    * state is bounded by the window span, not the history.
    */
  def q126Rolling24h(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
      .rangeBetween(-86400000000L, 0)
    t(s, dir, "events")
      .select($"event_id", $"user_id", $"ts",
        $"value".cast(DecimalType(9, 2)).as("v"))
      .withColumn("n_24h", count(lit(1)).over(w))
      .withColumn("sum_24h", round(sum($"v").over(w).cast("double"), 2))
      .select($"event_id", $"user_id", $"n_24h", $"sum_24h")
      .orderBy($"event_id")
  }

  private val q126Sql =
    """SELECT event_id, user_id,
      |  CAST(count(*) OVER w AS BIGINT) AS n_24h,
      |  round(CAST(sum(CAST(value AS DECIMAL(9,2))) OVER w AS DOUBLE), 2)
      |    AS sum_24h
      |FROM events
      |-- epoch_us, not raw ts: the parquet carries NANOS and Spark windows
      |-- over micro-truncated values; a ns-precision frame could disagree
      |-- within 1 us of the exact 24 h boundary
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** q130: hierarchy transitive closure via POINTER DOUBLING — every
    * node's root and depth in a synthetic forest (parent(k) = k/10 for
    * k >= 10; roots are 1..9). Spark has no recursive CTE, and the
    * naive per-level loop costs one shuffle PER EDGE of depth; pointer
    * doubling squares the known ancestor each round (d, 2d, 4d...), so
    * a depth-D hierarchy closes in ceil(log2 D) self-joins — at a
    * 100-TB BOM/org-chart scale that is the difference between 30
    * shuffles and 5. The round count is DERIVED from the key range
    * (depth of key k = digits(k) - 1, so rounds = ceil(log2(maxDepth)))
    * rather than hardcoded — a deeper forest at a larger scale factor
    * gets exactly the extra rounds it needs; and a raise_error backstop
    * makes any non-converged row loud instead of silently emitting a
    * non-root ancestor. The oracle walks the same forest with DuckDB's
    * native WITH RECURSIVE, proving the doubling lossless.
    */
  def q130TreeClosure(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = t(s, dir, "customer").select($"c_custkey".as("k"))
    // 1-row driver scalar (q06's HWM pattern): max depth of the forest.
    val maxKey = keys.agg(max($"k")).head.getLong(0)
    val maxDepth = math.max(1, maxKey.toString.length - 1)
    // ceil(log2(maxDepth)) doubling rounds close the whole forest.
    val rounds =
      if (maxDepth <= 1) 1
      else 32 - Integer.numberOfLeadingZeros(maxDepth - 1)
    var state = keys.select($"k",
      when($"k" >= 10, ($"k" / 10).cast("long")).otherwise($"k").as("r"),
      when($"k" >= 10, 1L).otherwise(0L).as("d"),
      ($"k" < 10 || ($"k" / 10).cast("long") < 10).as("done"))
    for (_ <- 1 to rounds) {
      val hop = state.select($"k".as("hk"), $"r".as("hr"), $"d".as("hd"),
        $"done".as("hdone"))
      state = state.join(hop, $"r" === $"hk", "left")
        .select($"k",
          when($"done" || $"hr".isNull, $"r").otherwise($"hr").as("r"),
          when($"done" || $"hr".isNull, $"d").otherwise($"d" + $"hd").as("d"),
          ($"done" || coalesce($"hdone", lit(false))).as("done"))
    }
    state.select($"k".as("custkey"),
        when($"done", $"r").otherwise(raise_error(
          lit("q130: pointer doubling did not converge — rounds underestimated")))
          .as("root"),
        $"d".as("depth"))
      .orderBy($"custkey")
  }

  private val q130Sql =
    """WITH RECURSIVE walk(k, r, d) AS (
      |  SELECT c_custkey, c_custkey, CAST(0 AS BIGINT)
      |  FROM customer WHERE c_custkey < 10
      |  UNION ALL
      |  SELECT c.c_custkey, w.r, w.d + 1
      |  FROM customer c JOIN walk w ON c.c_custkey // 10 = w.k
      |  WHERE c.c_custkey >= 10)
      |SELECT k AS custkey, r AS root, d AS depth
      |FROM walk
      |ORDER BY custkey""".stripMargin

  private val SessionGap = "30 minutes"

  /** q131: the BUILTIN `session_window` batch aggregation — Spark's
    * native dynamic-gap session operator (a first-class plan node, not
    * the q14 gaps-and-islands window composition): per user, events
    * merge while each arrives before the previous window's end
    * (last event + 30 min), and the emitted window is
    * [first event, last event + gap). Boundary semantics differ from
    * q14's by one instant — a gap of EXACTLY 30 min starts a new
    * session here (window end is exclusive) while q14's `> 30 min` test
    * merges it — so the oracle encodes `>=` on integer microseconds:
    * the operator's contract, stated and hash-checked, not assumed.
    */
  def q131SessionWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"user_id", session_window($"ts", SessionGap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("s_start"), $"w.end".as("s_end"),
        $"n_events")
      .orderBy($"user_id", $"s_start")
  }

  private val q131Sql =
    """WITH o AS (
      |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN prev_us IS NULL
      |      OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM o),
      |g AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM f)
      |SELECT user_id,
      |  CAST(min(ts) AS TIMESTAMP) AS s_start,
      |  CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS s_end,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM g
      |GROUP BY user_id, sid
      |ORDER BY user_id, s_start""".stripMargin

  // ---------------------------------------------------------------- q215

  /** Era floor for the q215 directed graph — bounds the oracle's
    * transitive closure while leaving a ~1500-vertex, ~6k-edge graph
    * at sf0.01 (one 708-member giant SCC, a 2-cycle, 780 trivial).
    */
  private val SccSplit = "1998-07-01"

  /** Hard outer-round ceiling for q215 — a safety rail only: every
    * round decides at least the residual minimum vertex's SCC, so the
    * loop terminates in ≤ #SCC rounds and measured convergence is 2–3
    * rounds at gate SFs. Hitting the ceiling raises, never returns a
    * partial answer (the oracle is EXACT, so a budget-truncated result
    * would hash-mismatch rather than degrade gracefully).
    */
  private val SccMaxRounds = 60

  /** q215: strongly connected components — the directed-graph member
    * the graph family was missing (q40/q134 solve the UNDIRECTED
    * version; direction changes the algorithm entirely, because
    * reachability stops being symmetric). Implemented as the standard
    * distributed FW-BW-Trim peel (the algorithm behind Spark GraphX's
    * and Giraph's SCC): each outer round (1) TRIMS — iteratively
    * discards vertices with no in- or no out-edges in the live
    * subgraph, each its own trivial SCC (kills the star periphery in
    * one pass); (2) runs TWO min-label fixpoints, forward (F(v) = min
    * vertex reaching v) and backward (B(v) = min vertex reachable from
    * v); (3) decides every vertex with F(v) = B(v) = r — r is then
    * mutually reachable with v and provably the SCC's minimum member,
    * so the label IS the canonical id the oracle derives from full
    * closure. At least the residual min vertex's SCC decides each
    * round, so termination needs no budget-matched oracle (unlike
    * q202/q208 the answer is exact, not round-stamped). The graph:
    * day-hub stars over late-era orders — the first orderer of each
    * day points at every other customer ordering that day; repeat hubs
    * weave the cores together, one-time customers stay periphery.
    * Scale shape: every step is a keyed join on vertex or edge ends —
    * frontier-proportional, never quadratic; the trim and label loops
    * run through [[Fixpoint]];
    * the label tables are one row per LIVE vertex and shrink
    * monotonically. Oracle: recursive-CTE closure + mutual-reach
    * minimum (exact, era-bounded so the closure stays ~1M pairs).
    */
  def q215Scc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = t(s, dir, "orders")
      .filter($"o_orderdate" >= lit(SccSplit).cast("timestamp"))
      .select($"o_custkey".as("c"), $"o_orderdate".as("d"),
        $"o_orderkey".as("k"))
    val hub = o.groupBy($"d").agg(min_by($"c", $"k").as("h"))
    val edges = o.join(hub, Seq("d"))
      .filter($"c" =!= $"h")
      .select($"h".as("src"), $"c".as("dst"))
      .distinct()
      .persist()
    var active = edges.select($"src".as("v"))
      .unionByName(edges.select($"dst".as("v")))
      .distinct().localCheckpoint()
    var decided: Option[DataFrame] = None // (v, scc_id)
    def decide(chunk: DataFrame): Unit =
      decided = Some(decided.map(_.unionByName(chunk)).getOrElse(chunk))
    var outer = 0
    while (!active.isEmpty) {
      outer += 1
      require(outer <= SccMaxRounds,
        s"q215: $SccMaxRounds rounds without convergence — not a plausible SCC count")
      // TRIM to a fixpoint: a vertex with no live in-edge or no live
      // out-edge can't sit on a cycle — it is its own SCC. The state
      // flags trimmed vertices, so a round's trimmings are its changes.
      val trim0 = active.withColumn("trimmed", lit(false))
      val trim = Fixpoint(Int.MaxValue)(trim0) { (prev, _) =>
        val live = prev.filter(!$"trimmed")
        val liveE = edges
          .join(live.select($"v".as("src")), Seq("src"), "left_semi")
          .join(live.select($"v".as("dst")), Seq("dst"), "left_semi")
        // both-endpoint survivors in ONE pass over liveE: explode each
        // edge into its two endpoint roles and aggregate per vertex —
        // r15, replacing two distinct()s + a semi-join (three shuffles
        // and a double evaluation of liveE) with one explode + one
        // aggregation; the kept set is identical (has a live out-edge
        // AND a live in-edge)
        val keep = liveE
          .select(explode(array(
            struct($"src".as("v"), lit(1).as("o"), lit(0).as("i")),
            struct($"dst".as("v"), lit(0).as("o"), lit(1).as("i")))).as("e"))
          .groupBy($"e.v".as("v"))
          .agg(max($"e.o").as("ho"), max($"e.i").as("hi"))
          .filter($"ho" === 1 && $"hi" === 1)
          .select($"v", lit(true).as("kept"))
        val cut = !$"trimmed" && $"kept".isNull
        prev.join(keep, Seq("v"), "left")
          .select($"v", ($"trimmed" || cut).as("trimmed"),
            cut.as(Fixpoint.Changed))
      }
      decide(trim.filter($"trimmed").select($"v", $"v".as("scc_id")))
      active = trim.filter(!$"trimmed").select($"v")
      if (!active.isEmpty) {
        val liveE = edges
          .join(active.select($"v".as("src")), Seq("src"), "left_semi")
          .join(active.select($"v".as("dst")), Seq("dst"), "left_semi")
        // F and B min-label fixpoints run in LOCKSTEP — one label table
        // carries both, so each round costs one checkpoint + one
        // convergence probe instead of two of each (round count is
        // max(dF, dB), not dF + dB; the per-round job overhead
        // dominates these tiny frames); monotone, so it runs uncapped.
        val lab0 = active.select($"v", $"v".as("f"), $"v".as("b"))
        val lab = Fixpoint(Int.MaxValue, liveE)(lab0) { (prev, _) =>
          val fmin = liveE.join(prev.select($"v".as("src"), $"f"), Seq("src"))
            .groupBy($"dst".as("v")).agg(min($"f").as("fm"))
          val bmin = liveE.join(prev.select($"v".as("dst"), $"b"), Seq("dst"))
            .groupBy($"src".as("v")).agg(min($"b").as("bm"))
          // old f/b are join inputs already, so the change flag rides
          // the checkpointed frame
          prev.join(fmin, Seq("v"), "left").join(bmin, Seq("v"), "left")
            .select($"v", least($"f", coalesce($"fm", $"f")).as("f"),
              least($"b", coalesce($"bm", $"b")).as("b"),
              (coalesce($"fm" < $"f", lit(false)) ||
                coalesce($"bm" < $"b", lit(false))).as(Fixpoint.Changed))
        }
        val scc = lab.filter($"f" === $"b")
          .select($"v", $"f".as("scc_id"))
          .localCheckpoint()
        decide(scc)
        active = active.join(scc.select($"v"), Seq("v"), "left_anti")
          .localCheckpoint()
      }
    }
    edges.unpersist(false)
    val all = decided.getOrElse(
      active.select($"v", $"v".as("scc_id")).limit(0))
    val sizes = all.groupBy($"scc_id").agg(count(lit(1)).as("scc_size"))
    all.join(sizes, Seq("scc_id"))
      .select($"v".as("custkey"), $"scc_id", $"scc_size")
      .orderBy($"custkey")
  }

  private val q215Sql =
    s"""WITH RECURSIVE o AS (
      |  SELECT o_custkey c, o_orderdate d, o_orderkey k FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '$SccSplit'),
      |hub AS (SELECT d, min_by(c, k) AS h FROM o GROUP BY d),
      |e AS (
      |  SELECT DISTINCT hub.h AS src, o.c AS dst
      |  FROM o JOIN hub ON o.d = hub.d WHERE o.c <> hub.h),
      |reach(u, v) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.u, e.dst FROM reach r JOIN e ON r.v = e.src),
      |verts AS (SELECT src AS x FROM e UNION SELECT dst FROM e),
      |mutual AS (
      |  SELECT a.u, a.v FROM reach a
      |  JOIN reach b ON a.u = b.v AND a.v = b.u),
      |scc AS (
      |  SELECT x, least(x, coalesce(min(m.v), x)) AS sid
      |  FROM verts LEFT JOIN mutual m ON m.u = verts.x
      |  GROUP BY x)
      |SELECT x AS custkey, sid AS scc_id,
      |  CAST(count(*) OVER (PARTITION BY sid) AS BIGINT) AS scc_size
      |FROM scc ORDER BY custkey""".stripMargin

  // ---------------------------------------------------------------- q225

  /** q225: NEYMAN (variance-optimal) sampling allocation — how a fixed
    * labeling/inspection budget should split across strata: n_h ∝
    * N_h·S_h, versus the proportional n_h ∝ N_h that q101 implements.
    * High-variance sources earn more budget; uniform ones need almost
    * none — the survey-sampling result that minimizes estimator
    * variance for a fixed total n, and the principled version of "how
    * many docs per source do we audit". Everything before the final
    * divisions is integer-exact: per-stratum Σc and Σc² are exact
    * longs, var_num = n·Σc² − (Σc)² stays < 2⁵³ so its double is
    * exact, and N_h·S_h = √var_num algebraically (the n cancels) — one
    * IEEE sqrt per stratum, rounded then summed as DECIMAL so the
    * share denominator is order-independent. One scan, one 20-row
    * aggregate, a 1-row scalar attach: the report costs nothing at any
    * scale.
    */
  def q225NeymanAllocation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val st = t(s, dir, "documents").select($"source", $"n_chars")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sc"),
        sum($"n_chars" * $"n_chars").as("sc2"))
      .withColumn("var_num", $"n_docs" * $"sc2" - $"sc" * $"sc")
      .withColumn("w",
        round(sqrt($"var_num".cast("double")), 6).cast("decimal(18,6)"))
    val tot = st.agg(sum($"w").cast("decimal(28,6)").as("wtot"),
      sum($"n_docs").as("ntot"))
    st.crossJoin(broadcast(tot))
      .select($"source", $"n_docs",
        round($"sc".cast("double") / $"n_docs", 4).as("mean_chars"),
        round(sqrt($"var_num".cast("double")) / $"n_docs", 4).as("sd_chars"),
        round($"w".cast("double") / $"wtot".cast("double"), 6)
          .as("neyman_share"),
        floor(lit(1000.0) * $"w".cast("double") / $"wtot".cast("double"))
          .cast("long").as("neyman_n"),
        expr("(1000 * n_docs) div ntot").as("prop_n"))
      .orderBy($"source")
  }

  private val q225Sql =
    """WITH st AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS sc,
      |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sc2
      |  FROM documents GROUP BY source),
      |wt AS (
      |  SELECT *, n_docs * sc2 - sc * sc AS var_num,
      |    CAST(round(sqrt(CAST(n_docs * sc2 - sc * sc AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS w
      |  FROM st),
      |tot AS (
      |  SELECT CAST(sum(w) AS DECIMAL(28,6)) AS wtot,
      |    CAST(sum(n_docs) AS BIGINT) AS ntot
      |  FROM wt)
      |SELECT source, n_docs,
      |  round(CAST(sc AS DOUBLE) / n_docs, 4) AS mean_chars,
      |  round(sqrt(CAST(var_num AS DOUBLE)) / n_docs, 4) AS sd_chars,
      |  round(CAST(w AS DOUBLE) / CAST(wtot AS DOUBLE), 6) AS neyman_share,
      |  CAST(floor(1000.0 * CAST(w AS DOUBLE) / CAST(wtot AS DOUBLE))
      |    AS BIGINT) AS neyman_n,
      |  (1000 * n_docs) // ntot AS prop_n
      |FROM wt CROSS JOIN tot ORDER BY source""".stripMargin

  /** q275: GOLDEN-RECORD SURVIVORSHIP — the master-data-management
    * operator a FIRMOGRAPHIC pipeline (the reference's exact domain)
    * ends in: several conflicting source records per real-world entity,
    * one surviving "golden" record assembled attribute-by-attribute
    * under explicit rules. The record universe is constructed
    * deterministically from part (the q56/q92 corruption device): per
    * entity, four source records with per-source attribute gaps and
    * hash-derived recency. Rules exercised — the industry trio:
    * LONGEST-STRING wins for the name (tie → lexicographic max),
    * MOST-RECENT-NON-NULL wins for brand/type (the struct-max argmax:
    * null rows demoted with day −1), and MAX wins for the numeric
    * size. Everything is per-entity aggregation over ≤4 rows/entity —
    * one shuffle on the entity key, no windows, completeness audited
    * per golden row.
    */
  def q275GoldenRecord(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = t(s, dir, "part")
      .select($"p_partkey", $"p_name", $"p_brand", $"p_type", $"p_size")
    // day is UNIQUE per (entity, source) by construction (4k + src):
    // DuckDB's max_by breaks ties arbitrarily, so every argmax key in
    // this query must be collision-free or value-determined
    def day(src: Int): Column =
      ((conv(substring(md5(concat(lit(s"gr$src:"),
        $"p_partkey".cast("string"))), 1, 4), 16, 10)
        .cast("long") % 250) * 4 + src).as("day")
    // four source records per entity: the original plus three
    // conflicting variants with per-source attribute gaps
    val recs = p.select($"p_partkey".as("eid"), lit(0).as("src"),
        $"p_name".as("name"), $"p_brand".as("brand"),
        $"p_type".as("typ"), $"p_size".cast("long").as("size"), day(0))
      .unionByName(p.select($"p_partkey".as("eid"), lit(1).as("src"),
        concat(lit("The "), $"p_name", lit(" Inc.")).as("name"),
        lit(null).cast("string").as("brand"),
        $"p_type".as("typ"), $"p_size".cast("long").as("size"), day(1)))
      .unionByName(p.select($"p_partkey".as("eid"), lit(2).as("src"),
        expr("substring(p_name, 2)").as("name"),
        $"p_brand".as("brand"), lit(null).cast("string").as("typ"),
        lit(null).cast("long").as("size"), day(2)))
      .unionByName(p.select($"p_partkey".as("eid"), lit(3).as("src"),
        concat_ws(" ", reverse(split($"p_name", " "))).as("name"),
        $"p_brand".as("brand"), $"p_type".as("typ"),
        lit(null).cast("long").as("size"), day(3)))
    // survivorship: one aggregation, argmax encoded as struct max with
    // null demotion (non-null wins at any recency; recency breaks the
    // rest; the value rides along as the struct tail)
    def recentNonNull(c: Column): Column =
      max(struct(when(c.isNotNull, $"day").otherwise(lit(-1L)).as("d"),
        c.as("v"))).getField("v")
    recs.groupBy($"eid")
      .agg(count(lit(1)).as("n_sources"),
        max(struct(length($"name").as("l"), $"name".as("v")))
          .getField("v").as("golden_name"),
        recentNonNull($"brand").as("golden_brand"),
        recentNonNull($"typ").as("golden_type"),
        max($"size").as("golden_size"),
        sum(when($"brand".isNotNull, 1L).otherwise(0L) +
          when($"typ".isNotNull, 1L).otherwise(0L) +
          when($"size".isNotNull, 1L).otherwise(0L)).as("attrs_seen"))
      .select($"eid", $"n_sources", $"golden_name", $"golden_brand",
        $"golden_type", $"golden_size",
        round($"attrs_seen".cast("double") / 12.0, 6).as("completeness"))
      .orderBy($"eid")
  }

  private val q275Sql =
    """WITH p AS (
      |  SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part),
      |recs AS (
      |  SELECT p_partkey AS eid, 0 AS src, p_name AS name,
      |    p_brand AS brand, p_type AS typ, CAST(p_size AS BIGINT) AS size,
      |    (('0x' || substr(md5('gr0:' || p_partkey), 1, 4))::BIGINT % 250) * 4 + 0
      |      AS day
      |  FROM p
      |  UNION ALL
      |  SELECT p_partkey, 1, 'The ' || p_name || ' Inc.', NULL, p_type,
      |    CAST(p_size AS BIGINT),
      |    (('0x' || substr(md5('gr1:' || p_partkey), 1, 4))::BIGINT % 250) * 4 + 1
      |  FROM p
      |  UNION ALL
      |  SELECT p_partkey, 2, substring(p_name, 2), p_brand, NULL, NULL,
      |    (('0x' || substr(md5('gr2:' || p_partkey), 1, 4))::BIGINT % 250) * 4 + 2
      |  FROM p
      |  UNION ALL
      |  SELECT p_partkey, 3,
      |    array_to_string(list_reverse(string_split(p_name, ' ')), ' '),
      |    p_brand, p_type, NULL,
      |    (('0x' || substr(md5('gr3:' || p_partkey), 1, 4))::BIGINT % 250) * 4 + 3
      |  FROM p)
      |SELECT eid, CAST(count(*) AS BIGINT) AS n_sources,
      |  max(struct_pack(l := length(name), v := name)).v AS golden_name,
      |  max(struct_pack(
      |    d := CASE WHEN brand IS NOT NULL THEN day ELSE -1 END,
      |    v := brand)).v AS golden_brand,
      |  max(struct_pack(
      |    d := CASE WHEN typ IS NOT NULL THEN day ELSE -1 END,
      |    v := typ)).v AS golden_type,
      |  max(size) AS golden_size,
      |  round(CAST(sum(CASE WHEN brand IS NOT NULL THEN 1 ELSE 0 END +
      |      CASE WHEN typ IS NOT NULL THEN 1 ELSE 0 END +
      |      CASE WHEN size IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
      |    12.0, 6) AS completeness
      |FROM recs
      |GROUP BY eid
      |ORDER BY eid""".stripMargin

  /** q276: RFM SEGMENTATION — the marketing-analytics workhorse:
    * score every customer 1–5 on Recency, Frequency, Monetary by
    * QUINTILE RANK, then bucket into named lifecycle segments
    * (champions / loyal / at-risk / hibernating). Exact quintiles need
    * exact global ranks — delivered three times by
    * [[GlobalRank.withGlobalRankCounted]] (range partitioning + P-row
    * offsets, never a single-partition sort), each checkpointed before
    * the next ranking so the offset bookkeeping of one pass can't be
    * re-planned under the next (the GlobalRank cache contract).
    * Quintile = ceil(5·rank/n) in pure integer arithmetic; custkey
    * tiebreaks make every rank unique (the device's requirement).
    * Output is the segment-level census (counts + mean scores from
    * integer-exact sums).
    */
  def q276RfmSegmentation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = DecimalType(18, 2)
    val base = t(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(datediff(lit("2002-01-01").cast("date"),
          max($"o_orderdate").cast("date")).cast("long").as("days"),
        count(lit(1)).as("freq"),
        sum($"o_totalprice".cast(dec)).as("money"))
    def quintile(rank: Column, n: Long): Column =
      ((rank * 5 - 1) / lit(n)).cast("long") + 1
    // R: most recent (smallest days) scores 5 -> rank DESC by days
    val (rRank, n) = GlobalRank.withGlobalRankCounted(
      base, "rr", $"days".desc, $"o_custkey".asc)
    val r1 = rRank.withColumn("r", quintile($"rr", n)).drop("rr")
      .localCheckpoint()
    val (fRank, _) = GlobalRank.withGlobalRankCounted(
      r1, "fr", $"freq".asc, $"o_custkey".asc)
    val r2 = fRank.withColumn("f", quintile($"fr", n)).drop("fr")
      .localCheckpoint()
    val (mRank, _) = GlobalRank.withGlobalRankCounted(
      r2, "mr", $"money".asc, $"o_custkey".asc)
    val scored = mRank.withColumn("m", quintile($"mr", n)).drop("mr")
      .withColumn("segment",
        when($"r" >= 4 && $"f" >= 4 && $"m" >= 4, "champions")
          .when($"r" >= 4 && $"f" >= 3, "loyal")
          .when($"r" <= 2 && $"f" >= 3, "at_risk")
          .when($"r" <= 2 && $"f" <= 2, "hibernating")
          .otherwise("regular"))
      .localCheckpoint()
    scored.groupBy($"segment")
      .agg(count(lit(1)).as("n_customers"),
        round(sum($"r").cast("double") / count(lit(1)).cast("double"), 6)
          .as("avg_r"),
        round(sum($"f").cast("double") / count(lit(1)).cast("double"), 6)
          .as("avg_f"),
        round(sum($"m").cast("double") / count(lit(1)).cast("double"), 6)
          .as("avg_m"))
      .orderBy($"segment")
  }

  private val q276Sql =
    """WITH base AS (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
      |      DATE '2002-01-01') AS BIGINT) AS days,
      |    CAST(count(*) AS BIGINT) AS freq,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS money
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT o_custkey,
      |    CAST(row_number() OVER (ORDER BY days DESC, o_custkey ASC)
      |      AS BIGINT) AS rr,
      |    CAST(row_number() OVER (ORDER BY freq ASC, o_custkey ASC)
      |      AS BIGINT) AS fr,
      |    CAST(row_number() OVER (ORDER BY money ASC, o_custkey ASC)
      |      AS BIGINT) AS mr,
      |    CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM base),
      |scored AS (
      |  SELECT (rr * 5 - 1) // n + 1 AS r, (fr * 5 - 1) // n + 1 AS f,
      |    (mr * 5 - 1) // n + 1 AS m
      |  FROM ranked),
      |seg AS (
      |  SELECT r, f, m,
      |    CASE WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champions'
      |      WHEN r >= 4 AND f >= 3 THEN 'loyal'
      |      WHEN r <= 2 AND f >= 3 THEN 'at_risk'
      |      WHEN r <= 2 AND f <= 2 THEN 'hibernating'
      |      ELSE 'regular' END AS segment
      |  FROM scored)
      |SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
      |  round(CAST(sum(r) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS avg_r,
      |  round(CAST(sum(f) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS avg_f,
      |  round(CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS avg_m
      |FROM seg
      |GROUP BY segment
      |ORDER BY segment""".stripMargin

  /** q279: PRICE–VOLUME BRIDGE (the FP&A waterfall): decompose each
    * brand's year-over-year revenue change into a VOLUME effect
    * ((q₁−q₀)·p₀) and a PRICE effect ((p₁−p₀)·q₁) — the two-factor
    * Laspeyres/Paasche split that reconciles EXACTLY (vol + price =
    * ΔR by algebra, no unexplained residual), which is why it's the
    * variance-analysis default. One fact scan collapses to the
    * (brand, year) grain with DECIMAL-exact quantity/revenue sums;
    * the bridge is a conditional-aggregation pivot of that bounded
    * table; unit prices are one double division each. A brand missing
    * a side contributes pure volume at the other side's price — the
    * standard new/discontinued-item convention, handled by zero-fill.
    */
  def q279PriceVolumeBridge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = DecimalType(18, 2)
    val by = t(s, dir, "lineitem")
      .filter(year($"l_shipdate") === 1997 || year($"l_shipdate") === 1998)
      .join(t(s, dir, "part"), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", year($"l_shipdate").as("yr"))
      .agg(sum($"l_quantity".cast("long")).as("q"),
        sum($"l_extendedprice".cast(dec)).as("r"))
    def side(yr: Int, c: String) =
      sum(when($"yr" === yr, col(c)).otherwise(lit(0))).as(s"${c}$yr")
    val wide = by.groupBy($"p_brand")
      .agg(side(1997, "q"), side(1998, "q"), side(1997, "r"),
        side(1998, "r"))
      // both-sides-present only: a price needs a quantity to divide by
      .filter($"q1997" > 0 && $"q1998" > 0)
    val p0 = $"r1997".cast("double") / $"q1997".cast("double")
    val p1 = $"r1998".cast("double") / $"q1998".cast("double")
    wide.select($"p_brand",
      $"q1997".cast("long").as("qty_base"),
      $"q1998".cast("long").as("qty_curr"),
      round(($"r1998" - $"r1997").cast("double"), 2).as("delta_revenue"),
      round(($"q1998" - $"q1997").cast("double") * p0, 4)
        .as("volume_effect"),
      round((p1 - p0) * $"q1998".cast("double"), 4).as("price_effect"))
      .orderBy($"p_brand")
  }

  private val q279Sql =
    """WITH by_y AS (
      |  SELECT p.p_brand, year(l.l_shipdate) AS yr,
      |    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
      |    sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS r
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  WHERE year(l.l_shipdate) IN (1997, 1998)
      |  GROUP BY 1, 2),
      |wide AS (
      |  SELECT p_brand,
      |    CAST(sum(CASE WHEN yr = 1997 THEN q ELSE 0 END) AS BIGINT)
      |      AS q1997,
      |    CAST(sum(CASE WHEN yr = 1998 THEN q ELSE 0 END) AS BIGINT)
      |      AS q1998,
      |    sum(CASE WHEN yr = 1997 THEN r ELSE CAST(0 AS DECIMAL(18,2)) END)
      |      AS r1997,
      |    sum(CASE WHEN yr = 1998 THEN r ELSE CAST(0 AS DECIMAL(18,2)) END)
      |      AS r1998
      |  FROM by_y GROUP BY 1)
      |SELECT p_brand, q1997 AS qty_base, q1998 AS qty_curr,
      |  round(CAST(r1998 - r1997 AS DOUBLE), 2) AS delta_revenue,
      |  round(CAST(q1998 - q1997 AS DOUBLE) *
      |    (CAST(r1997 AS DOUBLE) / CAST(q1997 AS DOUBLE)), 4)
      |    AS volume_effect,
      |  round((CAST(r1998 AS DOUBLE) / CAST(q1998 AS DOUBLE) -
      |    CAST(r1997 AS DOUBLE) / CAST(q1997 AS DOUBLE)) *
      |    CAST(q1998 AS DOUBLE), 4) AS price_effect
      |FROM wide
      |WHERE q1997 > 0 AND q1998 > 0
      |ORDER BY p_brand""".stripMargin

  /** q287: ABC (PARETO) INVENTORY CLASSIFICATION — the 80/15/5 cut
    * every supply-chain and catalog team runs: class A = the top
    * parts carrying 80% of revenue, B = the next 15%, C = the tail.
    * Needs an exact DESCENDING cumulative revenue share — delivered by
    * [[GlobalRank.withGlobalPrefixSums]] over (revenue desc, partkey)
    * (range partitioning, P-row offsets, no single-partition sort),
    * with the class cuts as INTEGER-EXACT comparisons on cents
    * (5·cum ≤ 4·total and 20·cum ≤ 19·total — no float thresholds).
    * Output is the class census: the A-class count being a tiny share
    * of parts IS the Pareto observation, and the census is what the
    * planner consumes.
    */
  def q287AbcClassification(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byPart = t(s, dir, "lineitem")
      .groupBy($"l_partkey")
      .agg((sum($"l_extendedprice".cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
    val cum = GlobalRank.withGlobalPrefixSums(byPart,
      Seq("cents" -> "ccum"), $"cents".desc, $"l_partkey".asc)
    val tot = byPart.agg(sum($"cents").as("tc"),
      count(lit(1)).as("np"))
    cum.crossJoin(broadcast(tot))
      .select(
        when($"ccum" * 5 <= $"tc" * 4, "A")
          .when($"ccum" * 20 <= $"tc" * 19, "B")
          .otherwise("C").as("abc_class"),
        $"cents", $"np")
      .groupBy($"abc_class")
      .agg(count(lit(1)).as("n_parts"),
        round(sum($"cents".cast(
          org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("double") / 100.0, 2).as("revenue"),
        round(count(lit(1)).cast("double") /
          max($"np").cast("double"), 6).as("part_share"))
      .orderBy($"abc_class")
  }

  private val q287Sql =
    """WITH by_part AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
      |      AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT cents,
      |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC)
      |      AS BIGINT) AS ccum
      |  FROM by_part),
      |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tc,
      |               CAST(count(*) AS BIGINT) AS np FROM by_part)
      |SELECT CASE WHEN ccum * 5 <= tc * 4 THEN 'A'
      |    WHEN ccum * 20 <= tc * 19 THEN 'B' ELSE 'C' END AS abc_class,
      |  CAST(count(*) AS BIGINT) AS n_parts,
      |  round(CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) / 100.0,
      |    2) AS revenue,
      |  round(CAST(count(*) AS DOUBLE) / CAST(max(np) AS DOUBLE), 6)
      |    AS part_share
      |FROM cum CROSS JOIN tot
      |GROUP BY 1
      |ORDER BY abc_class""".stripMargin

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q287_abc_classification",
      Seq("EXT-olap", "EXT-percentile", "A2"),
      "ABC Pareto classes from an exact descending cumulative share (prefix device), integer-exact 80/95 cuts, class census",
      q287AbcClassification, Some(q287Sql)),
    GraftQuery("q276_rfm_segmentation",
      Seq("EXT-olap", "A2", "EXT-percentile"),
      "RFM quintile segmentation: three exact global ranks via the range-partitioned device, integer quintiles, lifecycle segment census",
      q276RfmSegmentation, Some(q276Sql)),
    GraftQuery("q279_price_volume_bridge", Seq("EXT-olap", "A2", "J1"),
      "YoY price-volume bridge per brand: exactly-reconciling two-factor decomposition from decimal-exact (brand, year) sums",
      q279PriceVolumeBridge, Some(q279Sql)),
    GraftQuery("q275_golden_record",
      Seq("EXT-olap", "A2", "EXT-fuzzy"),
      "MDM golden-record survivorship: longest-string / most-recent-non-null / max rules as struct-max argmaxes, one entity-keyed aggregation",
      q275GoldenRecord, Some(q275Sql)),
    GraftQuery("q225_neyman_allocation", Seq("EXT-curation", "A2", "EXT-approx"),
      "Neyman variance-optimal sampling allocation per source: integer-exact moments, sqrt(var_num) weights, vs proportional",
      q225NeymanAllocation, Some(q225Sql)),
    GraftQuery("q215_scc", Seq("EXT-graph", "J3", "A2"),
      "strongly connected components: distributed FW-BW-Trim min-label peel over day-hub stars, exact closure oracle",
      q215Scc, Some(q215Sql)),
    GraftQuery("q146_grouped_auc", Seq("A2", "W1", "EXT-olap"),
      "grouped ROC-AUC from exact integer pair counts over score cells, degenerate groups null",
      q146GroupedAuc, Some(q146Sql)),
    GraftQuery("q149_seasonal_anomaly", Seq("A2", "J1", "EXT-olap"),
      "seasonal hour-of-day anomaly flags: exact decimal baselines, broadcast join-back, 3-sigma gate",
      q149SeasonalAnomaly, Some(q149Sql)),
    GraftQuery("q153_calibration", Seq("A2", "EXT-histogram", "EXT-olap"),
      "reliability table: decimal-rounded logistic score, fixed bins, exact Brier decomposition",
      q153Calibration, Some(q153Sql)),
    GraftQuery("q156_survival_km", Seq("A2", "W1", "EXT-olap"),
      "Kaplan-Meier time-to-repeat-order: censoring-aware, calendar-bounded duration windows",
      q156SurvivalKm, Some(q156Sql)),
    GraftQuery("q159_decay_features", Seq("A2", "J1", "EXT-olap"),
      "half-life decayed revenue features: rounded-pow weights, exact DECIMAL sums, freshness ratio per segment",
      q159DecayFeatures, Some(q159Sql)),
    GraftQuery("q130_tree_closure", Seq("EXT-graph", "J1"),
      "hierarchy root+depth via pointer doubling (log-depth shuffles)",
      q130TreeClosure, Some(q130Sql)),
    GraftQuery("q131_session_window", Seq("W1", "A2", "EXT-streaming"),
      "builtin session_window batch aggregation, boundary contract oracle-stated",
      q131SessionWindow, Some(q131Sql)),
    GraftQuery("q126_rolling_24h", Seq("W1", "A2", "EXT-streaming"),
      "trailing 24h per-user features via a time-interval RANGE frame",
      q126Rolling24h, Some(q126Sql)),
    GraftQuery("q101_stratified_sample", Seq("EXT-curation", "J1", "A2"),
      "per-language stratified sampling, salted-hash deterministic draw",
      q101StratifiedSample, Some(q101Sql)),
    GraftQuery("q110_corr_matrix", Seq("A2", "F9"),
      "Pearson correlation matrix from one pass of exact sufficient stats",
      q110CorrMatrix, Some(q110Sql)),
    GraftQuery("q111_curation_funnel", Seq("EXT-curation", "A2", "W2"),
      "single-pass per-stage funnel audit of a chained curation pipeline",
      q111CurationFunnel, Some(q111Sql)),
    GraftQuery("q100_column_profile", Seq("A1", "A2", "F9"),
      "schema-driven column profiling (null/distinct/min/max data card)",
      q100ColumnProfile, Some(q100Sql)),
    GraftQuery("q102_triangles", Seq("EXT-graph", "J1", "A2"),
      "oriented triangle census + clustering coeff of the co-supply graph",
      q102Triangles, Some(q102Sql)),
    GraftQuery("q202_kcore_peel", Seq("EXT-graph", "J3", "A2"),
      "k-core decomposition by iterative peeling: peel-round histogram, frontier-proportional rounds",
      q202KcorePeel, Some(q202Sql)),
    GraftQuery("q203_local_clustering", Seq("EXT-graph", "A2"),
      "per-node local clustering coefficient profile grouped by exact (deg, tri) pairs",
      q203LocalClustering, Some(q203Sql)),
    GraftQuery("q208_ktruss_peel", Seq("EXT-graph", "J3", "A2"),
      "k-truss edge peel: per-round triangle-support recount, bridges die, triangle cores stay",
      q208KtrussPeel, Some(q208Sql)),
    GraftQuery("q104_interval_merge", Seq("W1", "A3"),
      "gaps-and-islands merge of overlapping activity intervals",
      q104IntervalMerge, Some(q104Sql)),
    GraftQuery("q105_copurchase_lift", Seq("J1", "A2"),
      "brand-level basket co-occurrence with support and lift",
      q105CopurchaseLift, Some(q105Sql)),
    GraftQuery("q106_linear_attribution", Seq("J1", "A2", "W1"),
      "multi-touch linear attribution over the 7-day click lookback",
      q106LinearAttribution, Some(q106Sql)),
    GraftQuery("q107_label_encode", Seq("J1", "A2", "W2"),
      "frequency-ordered dictionary encoding with broadcast join-back",
      q107LabelEncode, Some(q107Sql)),
    GraftQuery("q141_woe_binning", Seq("A2", "EXT-olap"),
      "weight-of-evidence feature binning vs late-shipment target, degenerate bins null",
      q141WoeBinning, Some(q141Sql)),
    GraftQuery("q108_trend_regression", Seq("A1", "A2", "J1"),
      "per-nation OLS revenue trend from distributed sufficient statistics",
      q108TrendRegression, Some(q108Sql)))
}
