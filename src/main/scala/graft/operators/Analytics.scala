package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}

/** Round-4 analytic operator families over the behavioral tables:
  * cohort retention (the canonical month-offset OLAP matrix), iterative
  * graph propagation (PageRank over the customer–supplier bipartite
  * graph — the repeated join-agg workload that stresses shuffle reuse at
  * cluster scale), and deterministic weighted sampling
  * (Efraimidis–Elisavet priority sampling with a hash-derived uniform, so
  * the drawn sample is reproducible across engines and backfills — the
  * same no-RNG contract as q50's hash split and q59's mixture resample).
  */
object Analytics {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** q87: cohort retention matrix — customers grouped by first-order
    * month, retention measured as the fraction of each cohort active
    * again k months later (k = 0..3). One groupBy for cohort assignment,
    * one distinct for activity, one join + count-distinct for the
    * matrix; every shuffle keys on (cohort_month | custkey) — the shape
    * scales linearly and AQE-coalesces at small SF. The reference's
    * high-water-mark machinery (P3) answers "what's new"; this answers
    * the follow-on question every warehouse asks of it: "do they come
    * back".
    */
  def q87CohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = t(s, dir, "orders")
      .select($"o_custkey", date_trunc("month", $"o_orderdate").as("m"))
    val cohort = o.groupBy($"o_custkey").agg(min($"m").as("cm"))
    val sizes = cohort.groupBy($"cm").agg(count(lit(1)).as("cohort_size"))
    val active = o.distinct()
      .join(cohort, "o_custkey")
      .select($"cm", months_between($"m", $"cm").cast("int").as("offset_m"),
        $"o_custkey")
      .filter($"offset_m".between(0, 3))
      .groupBy($"cm", $"offset_m")
      .agg(count_distinct($"o_custkey").as("active"))
    active.join(sizes, "cm")
      .select(date_format($"cm", "yyyy-MM-dd").as("cohort_month"), $"offset_m",
        $"cohort_size", $"active",
        round($"active".cast("double") / $"cohort_size", 6).as("retention"))
      .orderBy($"cohort_month", $"offset_m")
  }

  private val q87Sql =
    """WITH o AS (SELECT o_custkey, date_trunc('month', o_orderdate) AS m
      |           FROM orders),
      |c AS (SELECT o_custkey, min(m) AS cm FROM o GROUP BY 1),
      |s AS (SELECT cm, CAST(count(*) AS BIGINT) AS cohort_size
      |      FROM c GROUP BY 1),
      |a AS (SELECT DISTINCT o_custkey, m FROM o),
      |r AS (SELECT cm, CAST(datediff('month', cm, m) AS INTEGER) AS offset_m,
      |        CAST(count(DISTINCT a.o_custkey) AS BIGINT) AS active
      |      FROM a JOIN c USING (o_custkey)
      |      WHERE datediff('month', cm, m) BETWEEN 0 AND 3
      |      GROUP BY 1, 2)
      |SELECT strftime(cm, '%Y-%m-%d') AS cohort_month, offset_m, cohort_size, active,
      |  round(CAST(active AS DOUBLE) / cohort_size, 6) AS retention
      |FROM r JOIN s USING (cm)
      |ORDER BY cohort_month, offset_m""".stripMargin

  private val Damping = 0.85
  private val PrIters = 3
  private val PrDeepIters = 10

  /** PageRank over the customer–supplier interaction graph (edge =
    * "customer ordered from supplier", undirected so the bipartite walk
    * mixes). The iterative join-agg is THE repeated-shuffle workload of
    * graph analytics at 100 TB: each iteration joins the edge list
    * (shuffled once, reused — persisted here, co-partitioned on a
    * cluster) with the current rank vector and re-aggregates by
    * destination. Iteration count is a PARAMETER (q89 runs 3, q133 runs
    * 10), with the two mechanisms a deep run needs:
    *
    *  - [[Fixpoint]] cuts lineage each round, so the plan submitted
    *    per iteration is one join-agg regardless of depth — a 10- or
    *    50-iteration run costs linear time, not an
    *    exponentially-reanalyzed plan tree;
    *  - an EXACT-fixed-point early stop: ranks are rounded to 10 digits
    *    each round, so once the rounded vector repeats, every further
    *    iteration is a deterministic no-op — stopping is
    *    indistinguishable from running the remaining rounds, which is
    *    what keeps the fixed-iteration SQL oracle valid.
    *
    * Rounding to 10 digits per iteration also stops cross-engine
    * float-summation drift compounding (drift ~1e-18 per sum vs a 5e-11
    * rounding band); graph size N is a 1-row driver scalar like q06's
    * high-water mark. Companion to q40's connected components: CC
    * answers membership, PageRank answers importance, over the same
    * edge machinery.
    */
  /** The customer–supplier interaction graph, undirected (both edge
    * directions) — shared by PageRank (q89/q133), label propagation
    * (q140/q157), BFS (q145) and PPR (q224). Since round 11 this READS
    * the [[GraphIndex]] artifact (build-once/query-many; a pure
    * function of the source bytes, so every consumer's raw-table
    * oracle stays exact) instead of re-joining orders ⋈ lineitem per
    * query.
    */
  private def csEdges(s: SparkSession, dir: String): DataFrame =
    GraphIndex.edges(s, dir)

  private def pageRank(s: SparkSession, dir: String, iters: Int): DataFrame = {
    import s.implicits._
    // deg is iteration-INVARIANT: the artifact pre-annotates it onto the
    // edge table (round 10's hoist, now free — `pr / deg` stays a
    // division of the same two values, so every rank is bit-identical
    // to the per-round-join form)
    val deg = GraphIndex.degrees(s, dir).persist()
    val n = deg.count()
    // r15: co-partition the edge table on the iteration join key ONCE
    // (guide §2.4 "two operations keyed the same way share one
    // exchange"): the artifact parquet loses its written partitioning
    // at scan, so every iteration's edges⋈ranks join was re-exchanging
    // the edge table — the bulky side — per round. One explicit hash
    // repartition before persist and only the node-sized rank vector
    // moves per iteration; on a cluster this is exactly the cached
    // co-partitioned edge list every iterative graph engine keeps.
    val edges = GraphIndex.degEdges(s, dir).repartition($"src").persist()
    edges.count()
    val init = deg.select($"src".as("node"), lit(1.0 / n).as("pr"))
    val pr = Fixpoint(iters, deg, edges)(init) { (prev, _) =>
      // r15: the exact-fixpoint probe rides the iteration frame (the
      // prev vector joins in before the checkpoint). Inner join is
      // lossless: the undirected graph gives every node degree ≥ 1, so
      // the agg output and prev carry the same node set; pr values
      // unchanged. `<=>` keeps the change column non-nullable, so
      // Fixpoint's dropped-row filter folds away in the optimizer.
      edges
        .join(prev.withColumnRenamed("node", "src"), Seq("src"))
        .select($"dst", ($"pr" / $"deg").as("contrib"))
        .groupBy($"dst")
        .agg(sum($"contrib").as("in_pr"))
        .select($"dst".as("node"),
          round(lit((1 - Damping) / n) + lit(Damping) * $"in_pr", 10).as("pr"))
        .join(prev.select($"node", $"pr".as("prev_pr")), Seq("node"))
        .select($"node", $"pr", (!($"pr" <=> $"prev_pr")).as(Fixpoint.Changed))
    }
    // Top-20 via orderBy().limit() -> TakeOrderedAndProject: every task
    // keeps a 20-row heap and only those survivors cross the exchange.
    // The rank window then runs over 20 rows, not the full rank vector
    // (a global row_number here would single-partition-sort all nodes).
    val top = pr.orderBy($"pr".desc, $"node".asc).limit(20)
    val w = Window.orderBy($"pr".desc, $"node".asc)
    top.withColumn("rank", row_number().over(w))
      .select($"rank", $"node", round($"pr", 8).as("pagerank"))
      .orderBy($"rank")
  }

  def q89PageRank(s: SparkSession, dir: String): DataFrame =
    pageRank(s, dir, PrIters)

  /** q133: the 10-iteration run of [[pageRank]] — proves the deep-graph
    * machinery ([[Fixpoint]]: constant plan depth, linear cost per
    * round, valid early stop) against a 10-CTE recursive oracle.
    */
  def q133PageRankDeep(s: SparkSession, dir: String): DataFrame =
    pageRank(s, dir, PrDeepIters)

  private def pageRankSql(iters: Int): String = {
    def iter(prev: String, out: String) =
      s"""$out AS (
         |  SELECT e.dst AS node,
         |    round((SELECT (1 - $Damping) / n FROM n) +
         |      $Damping * sum(p.pr / d.deg), 10) AS pr
         |  FROM e JOIN $prev p ON e.src = p.node JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst)""".stripMargin
    val chain = (1 to iters).map(i => iter(s"p${i - 1}", s"p$i")).mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
       |p0 AS (SELECT src AS node, (SELECT 1.0 / n FROM n) AS pr FROM deg),
       |$chain
       |SELECT rank, node, pagerank FROM (
       |  SELECT node, round(pr, 8) AS pagerank,
       |    row_number() OVER (ORDER BY pr DESC, node ASC) AS rank
       |  FROM p$iters)
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin
  }

  private val q89Sql = pageRankSql(PrIters)
  private val q133Sql = pageRankSql(PrDeepIters)

  private val LpaIters = 3

  /** q140: community detection by synchronous LABEL PROPAGATION over
    * the same customer–supplier graph — the third member of the graph
    * family (q40/q134 answer membership under explicit edges, q89
    * importance; LPA finds density-based communities with no edge
    * threshold at all). Each round every node adopts the MODE of its
    * neighbors' labels (count desc, then smallest label — stated
    * tiebreak, so both engines pick identically); the mode is computed
    * as a lexicographic struct-min over (-count, label), which
    * partial-aggregates map-side exactly like q45's argmin — never a
    * per-node sort. Honest caveat, stated not hidden: SYNCHRONOUS LPA
    * can oscillate on bipartite graphs (this one is bipartite), which
    * is why the round count is FIXED and mirrored in the unrolled
    * oracle — the query proves the distributed iteration machinery;
    * the semi-synchronous coloring fix is implemented as q157, keeping
    * this one as the measured contrast. Rounds run through
    * [[Fixpoint]].
    */
  def q140LabelPropagation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = csEdges(s, dir).repartition($"src")
    val init = edges.select($"src".as("node"))
      .distinct().withColumn("lbl", $"node")
    val labels = Fixpoint(LpaIters, edges)(init) { (prev, _) =>
      edges
        .join(prev.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy($"dst", $"lbl")
        .agg(count(lit(1)).as("c"))
        .groupBy($"dst")
        .agg(min(struct((-$"c").as("nc"), $"lbl".as("l"))).as("m"))
        .select($"dst".as("node"), $"m.l".as("lbl"))
    }
    labels.groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("size"),
        min($"node").as("first_member"), max($"node").as("last_member"))
      .orderBy($"community")
  }

  private val q140Sql = {
    def iter(prev: String, i: Int) =
      s"""cnt$i AS (
         |  SELECT e.dst AS node, l.lbl, count(*) AS c
         |  FROM e JOIN $prev l ON e.src = l.node
         |  GROUP BY 1, 2),
         |l$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, lbl ASC) AS rn
         |    FROM cnt$i)
         |  WHERE rn = 1)""".stripMargin
    val chain = (1 to LpaIters).map(i => iter(s"l${i - 1}", i)).mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |$chain
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS size,
       |  min(node) AS first_member, max(node) AS last_member
       |FROM l$LpaIters
       |GROUP BY 1
       |ORDER BY community""".stripMargin
  }

  private val LpaSemiRounds = 3

  /** q157: SEMI-SYNCHRONOUS label propagation — the production fix for
    * q140's stated caveat. Synchronous LPA can oscillate on bipartite
    * graphs because both sides update from each other's OLD labels;
    * the classic remedy is coloring: update one color class per
    * half-round, each from the other's CURRENT labels (Gauss–Seidel
    * order instead of Jacobi). This graph is 2-colorable by
    * construction (customers 'c…' / suppliers 's…' — the color IS the
    * id prefix), so each round is two half-rounds: suppliers adopt the
    * mode of their customers' labels, then customers adopt the mode of
    * the JUST-UPDATED supplier labels. Same per-round plan shape as
    * q140 (join + two keyed aggs, mode as map-side struct-min, never a
    * per-node sort), same [[Fixpoint]] rounds, twice the half-rounds —
    * and a fixed point synchronous LPA cannot promise on this topology.
    * q140 stays registered as the contrast query.
    */
  def q157LpaSemiSync(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = csEdges(s, dir).repartition($"src")
    val init = edges.select($"src".as("node"))
      .distinct().withColumn("lbl", $"node")
    val labels = Fixpoint(2 * LpaSemiRounds, edges)(init) { (prev, half) =>
      val side = if (half % 2 == 1) "s" else "c"
      val updated = edges
        .filter(substring($"dst", 1, 1) === side)
        .join(prev.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy($"dst", $"lbl")
        .agg(count(lit(1)).as("c"))
        .groupBy($"dst")
        .agg(min(struct((-$"c").as("nc"), $"lbl".as("l"))).as("m"))
        .select($"dst".as("node"), $"m.l".as("lbl"))
      // every node of this side has >= 1 cross-side edge (nodes are
      // defined by the edge list), so the union is a full replacement
      prev.filter(substring($"node", 1, 1) =!= side).unionByName(updated)
    }
    labels.groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("size"),
        min($"node").as("first_member"), max($"node").as("last_member"))
      .orderBy($"community")
  }

  private val q157Sql = {
    def half(prev: String, side: String, out: String) =
      s"""cnt_$out AS (
         |  SELECT e.dst AS node, l.lbl, count(*) AS c
         |  FROM e JOIN $prev l ON e.src = l.node
         |  WHERE substring(e.dst, 1, 1) = '$side'
         |  GROUP BY 1, 2),
         |upd_$out AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, lbl ASC) AS rn
         |    FROM cnt_$out)
         |  WHERE rn = 1),
         |$out AS (
         |  SELECT node, lbl FROM $prev WHERE substring(node, 1, 1) <> '$side'
         |  UNION ALL SELECT node, lbl FROM upd_$out)""".stripMargin
    val chain = (1 to LpaSemiRounds).flatMap(i =>
      Seq(half(if (i == 1) "l0" else s"l${i - 1}c", "s", s"l${i}s"),
        half(s"l${i}s", "c", s"l${i}c"))).mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |$chain
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS size,
       |  min(node) AS first_member, max(node) AS last_member
       |FROM l${LpaSemiRounds}c
       |GROUP BY 1
       |ORDER BY community""".stripMargin
  }

  private val BfsHops = 3

  /** q145: multi-source BFS shortest-hop distance over the
    * customer–supplier graph — the fourth member of the graph family
    * (q40/q134 membership, q89/q133 importance, q140 communities; BFS
    * answers REACH: "how far is every node from a seed set", the shape
    * behind influence radius, blast-radius audits, and k-hop feature
    * extraction for graph ML). Seeds are all in-graph customers of
    * nation 0; each round expands the FRONTIER only — the previous
    * round's newly-discovered nodes join the edge list, and a left-anti
    * join against the visited set keeps the work per round proportional
    * to the frontier, never the visited set squared. Fixed `BfsHops`
    * rounds through [[Fixpoint]]. The oracle unrolls the same
    * frontier algebra as CTEs — a recursive-CTE walk would enumerate
    * every PATH (combinatorial on this dense bipartite graph); the
    * frontier form is the one that scales, in both engines.
    */
  def q145BfsDistance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = csEdges(s, dir).repartition($"src").persist()
    val inGraph = edges.select($"src".as("node")).distinct()
    val seeds = t(s, dir, "customer").filter($"c_nationkey" === 0)
      .select(concat(lit("c"), $"c_custkey").as("node"))
      .join(inGraph, Seq("node"), "left_semi")
    val init = seeds.withColumn("hops", lit(0)).localCheckpoint()
    val dist = Fixpoint(BfsHops, edges)(init) { (prev, i) =>
      val frontier = prev.filter($"hops" === i - 1)
      val next = edges
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select($"dst".as("node")).distinct()
        .join(prev, Seq("node"), "left_anti")
        .withColumn("hops", lit(i))
      prev.unionByName(next)
    }
    dist.groupBy($"hops")
      .agg(count(lit(1)).as("n_nodes"),
        min($"node").as("first_node"), max($"node").as("last_node"))
      .orderBy($"hops")
  }

  private val q145Sql = {
    def step(i: Int) =
      s"""f$i AS (
         |  SELECT DISTINCT e.dst AS node, $i AS hops
         |  FROM e JOIN f${i - 1} ON e.src = f${i - 1}.node
         |  WHERE e.dst NOT IN (SELECT node FROM a${i - 1})),
         |a$i AS (SELECT node, hops FROM a${i - 1}
         |        UNION ALL SELECT node, hops FROM f$i)""".stripMargin
    val chain = (1 to BfsHops).map(step).mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |f0 AS (
       |  SELECT 'c' || c_custkey AS node, 0 AS hops FROM customer
       |  WHERE c_nationkey = 0
       |    AND 'c' || c_custkey IN (SELECT src FROM e)),
       |a0 AS (SELECT node, hops FROM f0),
       |$chain
       |SELECT hops, CAST(count(*) AS BIGINT) AS n_nodes,
       |  min(node) AS first_node, max(node) AS last_node
       |FROM a$BfsHops
       |GROUP BY 1
       |ORDER BY hops""".stripMargin
  }

  /** q90: deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis priority sampling): each document draws a
    * "uniform" u from the first 8 md5 hex digits of its id, and the 20
    * smallest priorities -ln(u)/weight win — equivalent to sequential
    * weighted draws, but embarrassingly parallel: priorities compute in
    * the scan projection and one top-k (window at small SF; at corpus
    * scale a per-partition top-k then a 20-row driver merge) selects the
    * sample. No RNG: re-running, backfilling, or re-sharding the corpus
    * reproduces the same sample — the q50 split contract extended to
    * weighted draws. Weight = n_chars, so long documents are
    * proportionally favored (char-budget-fair sampling).
    */
  def q90WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
      .cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    val docs = t(s, dir, "documents")
      .select($"doc_id", $"n_chars", (-log(u) / $"n_chars").as("priority"))
    val w = Window.orderBy($"priority".asc, $"doc_id".asc)
    docs.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 20)
      .select($"rank", $"doc_id", $"n_chars",
        round($"priority", 9).as("priority"))
      .orderBy($"rank")
  }

  private val q90Sql =
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |    -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |         + 0.5e0) / 4294967296e0) / n_chars AS priority
      |  FROM documents)
      |SELECT rank, doc_id, n_chars, round(priority, 9) AS priority FROM (
      |  SELECT *, row_number() OVER (ORDER BY priority ASC, doc_id ASC) AS rank
      |  FROM d)
      |WHERE rank <= 20
      |ORDER BY rank""".stripMargin

  /** q92: edit-distance scoring of the q56 corruption classes — the
    * string-metric complement to trigram Jaccard: Levenshtein is exact
    * integer DP (no float, no libm), computed per candidate pair in the
    * scan projection. The pairs come from the variant CONSTRUCTION
    * (each name scored against its own three corruptions), which is the
    * honest unit-cost frame: a production matcher runs edit distance on
    * blocked candidate pairs, never all-pairs. Per-class aggregates show
    * the discrimination: decoration costs ~9 edits but high normalized
    * similarity, swaps cost more than typos.
    */
  def q92EditDistance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = t(s, dir, "part").select($"p_name").distinct()
    val pairs = names
      .select($"p_name", lit("decorated").as("variant_class"),
        concat(lit("The "), $"p_name", lit(" Inc.")).as("v"))
      .unionByName(names.select($"p_name", lit("typo").as("variant_class"),
        expr("substring(p_name, 2)").as("v")))
      .unionByName(names.select($"p_name", lit("word_swap").as("variant_class"),
        concat_ws(" ", reverse(split($"p_name", " "))).as("v")))
    pairs
      .select($"variant_class",
        levenshtein($"p_name", $"v").as("lev"),
        (lit(1.0) - levenshtein($"p_name", $"v").cast("double") /
          greatest(length($"p_name"), length($"v"))).as("sim"))
      .groupBy($"variant_class")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"lev"), 6).as("avg_lev"),
        round(avg($"sim"), 6).as("avg_sim"),
        round(avg(when($"sim" >= 0.7, 1.0).otherwise(0.0)), 6).as("match_rate"))
      .orderBy($"variant_class")
  }

  private val q92Sql =
    """WITH names AS (SELECT DISTINCT p_name FROM part),
      |pairs AS (
      |  SELECT p_name, 'decorated' AS variant_class,
      |    'The ' || p_name || ' Inc.' AS v FROM names
      |  UNION ALL
      |  SELECT p_name, 'typo', substring(p_name, 2) FROM names
      |  UNION ALL
      |  SELECT p_name, 'word_swap',
      |    array_to_string(list_reverse(string_split(p_name, ' ')), ' ')
      |  FROM names),
      |scored AS (
      |  SELECT variant_class, levenshtein(p_name, v) AS lev,
      |    1.0 - CAST(levenshtein(p_name, v) AS DOUBLE) /
      |      greatest(length(p_name), length(v)) AS sim
      |  FROM pairs)
      |SELECT variant_class, CAST(count(*) AS BIGINT) AS n_pairs,
      |  round(avg(lev), 6) AS avg_lev,
      |  round(avg(sim), 6) AS avg_sim,
      |  round(avg(CASE WHEN sim >= 0.7 THEN 1.0 ELSE 0.0 END), 6) AS match_rate
      |FROM scored
      |GROUP BY variant_class
      |ORDER BY variant_class""".stripMargin

  /** q147: Jaro–Winkler scoring of the same corruption classes q92
    * measures with Levenshtein — the record-linkage pairing: Levenshtein
    * counts raw edits, Jaro–Winkler rewards shared prefixes and
    * tolerates transpositions, which is why matchers ensemble both. The
    * metric is the native [[graft.functions.NativeExpressions.JaroWinkler]]
    * expression (semantics cross-verified pairwise against DuckDB's
    * builtin over this exact pair population — greedy flag matching,
    * floor transposition halving, 0.7 boost gate), evaluated in the scan
    * projection: per-pair work, no shuffle beyond the final class
    * aggregate. The per-class contrast against q92 is the point:
    * word_swap scores LOW on JW (prefix destroyed) but high on
    * normalized Levenshtein similarity; typo (first char dropped) kills
    * the prefix boost; decoration keeps it.
    */
  def q147JaroWinkler(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.NativeExpressions.jaroWinkler
    val names = t(s, dir, "part").select($"p_name").distinct()
    val pairs = names
      .select($"p_name", lit("decorated").as("variant_class"),
        concat(lit("The "), $"p_name", lit(" Inc.")).as("v"))
      .unionByName(names.select($"p_name", lit("typo").as("variant_class"),
        expr("substring(p_name, 2)").as("v")))
      .unionByName(names.select($"p_name", lit("word_swap").as("variant_class"),
        concat_ws(" ", reverse(split($"p_name", " "))).as("v")))
    pairs
      .select($"variant_class", jaroWinkler($"p_name", $"v").as("jw"))
      .groupBy($"variant_class")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"jw"), 6).as("avg_jw"),
        round(min($"jw"), 6).as("min_jw"),
        round(max($"jw"), 6).as("max_jw"),
        round(avg(when($"jw" >= 0.85, 1.0).otherwise(0.0)), 6).as("match_rate"))
      .orderBy($"variant_class")
  }

  private val q147Sql =
    """WITH names AS (SELECT DISTINCT p_name FROM part),
      |pairs AS (
      |  SELECT p_name, 'decorated' AS variant_class,
      |    'The ' || p_name || ' Inc.' AS v FROM names
      |  UNION ALL
      |  SELECT p_name, 'typo', substring(p_name, 2) FROM names
      |  UNION ALL
      |  SELECT p_name, 'word_swap',
      |    array_to_string(list_reverse(string_split(p_name, ' ')), ' ')
      |  FROM names),
      |scored AS (
      |  SELECT variant_class, jaro_winkler_similarity(p_name, v) AS jw
      |  FROM pairs)
      |SELECT variant_class, CAST(count(*) AS BIGINT) AS n_pairs,
      |  round(avg(jw), 6) AS avg_jw,
      |  round(min(jw), 6) AS min_jw,
      |  round(max(jw), 6) AS max_jw,
      |  round(avg(CASE WHEN jw >= 0.85 THEN 1.0 ELSE 0.0 END), 6) AS match_rate
      |FROM scored
      |GROUP BY variant_class
      |ORDER BY variant_class""".stripMargin

  /** q93: date-spine gap fill — time-series completeness over an hourly
    * spine derived from the data's own bounds (1-row agg, no driver
    * collect), left-joined with the observed hourly counts of a sparse
    * slice (high-value purchases) so missing hours materialize as
    * explicit zero rows. The standard warehouse "calendar dimension"
    * pattern: at 100 TB the spine is still tiny (hours, not events) and
    * the join broadcasts the spine, so gap detection costs one scan +
    * one broadcast join regardless of corpus size.
    */
  def q93HourlyGapfill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select(date_trunc("hour", $"ts").as("h"), $"event_type", $"value")
    val spine = ev.agg(min($"h").as("lo"), max($"h").as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("interval 1 hour"))).as("h"))
    val counts = ev
      .filter($"event_type" === "purchase" && $"value" > 150)
      .groupBy($"h").agg(count(lit(1)).as("n_events"))
    spine.join(counts, Seq("h"), "left")
      .na.fill(0L, Seq("n_events"))
      .select(date_format($"h", "yyyy-MM-dd HH:00").as("hour"),
        $"n_events", ($"n_events" === 0).as("is_gap"))
      .orderBy($"hour")
  }

  private val q93Sql =
    """WITH ev AS (SELECT date_trunc('hour', ts) AS h, event_type, value
      |            FROM events),
      |spine AS (
      |  SELECT unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
      |  FROM ev),
      |counts AS (
      |  SELECT h, CAST(count(*) AS BIGINT) AS n_events
      |  FROM ev WHERE event_type = 'purchase' AND value > 150
      |  GROUP BY h)
      |SELECT strftime(spine.h, '%Y-%m-%d %H:00') AS hour,
      |  COALESCE(n_events, 0) AS n_events,
      |  COALESCE(n_events, 0) = 0 AS is_gap
      |FROM spine LEFT JOIN counts USING (h)
      |ORDER BY hour""".stripMargin

  private val MergeCutoff = "1998-01-01"

  /** q94: incremental aggregate-state maintenance — the aggregate-level
    * companion to q47's row-level CDC: a running per-key state table
    * (count + exact-decimal sum) built from the history batch is MERGED
    * with the partial aggregate of a new batch (full-outer join, state
    * addition), and the result must equal a from-scratch recompute —
    * which is exactly what the oracle does, so the gate verifies the
    * merge ALGEBRA, not just the arithmetic. This is how a 100 TB
    * pipeline maintains aggregates: shuffle the new day's partials,
    * never re-scan history. Totals ride the exactSum2 decimal trick so
    * partial-merge order can't change a cent.
    */
  def q94AggStateMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Fns.exactSum2
    val orders = t(s, dir, "orders")
    def state(df: DataFrame): DataFrame = df
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("cnt"), exactSum2($"o_totalprice").as("tot"))
    val hist = state(orders
      .filter($"o_orderdate" < lit(MergeCutoff).cast("timestamp")))
      .select($"o_custkey", $"cnt".as("cnt1"), $"tot".as("tot1"))
    val batch = state(orders
      .filter($"o_orderdate" >= lit(MergeCutoff).cast("timestamp")))
      .select($"o_custkey", $"cnt".as("cnt2"), $"tot".as("tot2"))
    hist.join(batch, Seq("o_custkey"), "full_outer")
      .select($"o_custkey",
        (coalesce($"cnt1", lit(0L)) + coalesce($"cnt2", lit(0L))).as("n_orders"),
        round(coalesce($"tot1", lit(0.0)) + coalesce($"tot2", lit(0.0)), 2)
          .as("total"))
      .select($"o_custkey", $"n_orders", $"total",
        round($"total" / $"n_orders", 6).as("avg_order"))
      .orderBy($"o_custkey")
  }

  private val q94Sql =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS total,
      |  round(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    / count(*), 6) AS avg_order
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** q96: distribution-rank analytics — the full SQL ranking-function
    * family (percent_rank, cume_dist, ntile, lag) over customer lifetime
    * spend within market segment. Completes §2.5's window surface (the
    * reference uses row_number only; these are the "free from Spark"
    * analytic windows a reference user gains). The order key carries a
    * custkey tiebreak so every rank statistic is deterministic under
    * spend ties; one shuffle on the partition key, rank math is
    * in-partition streaming.
    */
  def q96RankAnalytics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Fns.exactSum2
    val spend = t(s, dir, "orders")
      .groupBy($"o_custkey").agg(round(exactSum2($"o_totalprice"), 2).as("spend"))
    val cust = t(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
      .join(spend, $"c_custkey" === $"o_custkey")
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"spend".desc, $"c_custkey".asc)
    cust.select($"c_mktsegment", $"c_custkey", $"spend",
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        ntile(4).over(w).as("quartile"),
        round(coalesce(lag($"spend", 1).over(w) - $"spend", lit(0.0)), 2)
          .as("gap_to_prev"))
      .orderBy($"c_mktsegment", $"pct_rank")
  }

  private val q96Sql =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
      |      AS spend
      |  FROM orders GROUP BY 1)
      |SELECT c_mktsegment, c_custkey, spend,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume,
      |  ntile(4) OVER w AS quartile,
      |  round(COALESCE(lag(spend, 1) OVER w - spend, 0), 2) AS gap_to_prev
      |FROM customer JOIN spend ON c_custkey = o_custkey
      |WINDOW w AS (PARTITION BY c_mktsegment
      |             ORDER BY spend DESC, c_custkey ASC)
      |ORDER BY c_mktsegment, pct_rank""".stripMargin

  /** q97: table diff / reconciliation — the report every pipeline needs
    * after an upsert or a backfill: which rows were added, removed, or
    * changed between two versions of a table. v2 is derived from the
    * customer table by deterministic arithmetic (balance bump on
    * key%7=0, drop on key%13=0, synthetic inserts from key%11=0) so the
    * oracle reproduces both versions; the diff itself is one
    * co-partitioned full-outer join on the key — the row-level dual of
    * q94's aggregate-state merge, and at 100 TB a single keyed shuffle
    * regardless of how wide the table is (column comparison happens
    * in-row after the match).
    */
  def q97TableDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v1 = t(s, dir, "customer")
      .select($"c_custkey", $"c_acctbal")
    val v2 = v1
      .filter($"c_custkey" % 13 =!= 0)
      .select($"c_custkey",
        when($"c_custkey" % 7 === 0, round($"c_acctbal" + 100.0, 2))
          .otherwise($"c_acctbal").as("c_acctbal"))
      .unionByName(v1.filter($"c_custkey" % 11 === 0)
        .select(($"c_custkey" + 1000000L).as("c_custkey"), $"c_acctbal"))
    val a = v1.select($"c_custkey", $"c_acctbal".as("old_bal"))
    val b = v2.select($"c_custkey", $"c_acctbal".as("new_bal"))
    a.join(b, Seq("c_custkey"), "full_outer")
      .select($"c_custkey",
        when($"old_bal".isNull, "added")
          .when($"new_bal".isNull, "removed")
          .when($"old_bal" =!= $"new_bal", "changed")
          .otherwise("unchanged").as("change_type"),
        $"old_bal", $"new_bal")
      .filter($"change_type" =!= "unchanged")
      .orderBy($"c_custkey")
  }

  private val q97Sql =
    """WITH v1 AS (SELECT c_custkey, c_acctbal FROM customer),
      |v2 AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN round(c_acctbal + 100.0, 2)
      |         ELSE c_acctbal END AS c_acctbal
      |  FROM v1 WHERE c_custkey % 13 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_acctbal FROM v1 WHERE c_custkey % 11 = 0),
      |d AS (
      |  SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
      |    CASE WHEN a.c_custkey IS NULL THEN 'added'
      |         WHEN b.c_custkey IS NULL THEN 'removed'
      |         WHEN a.c_acctbal <> b.c_acctbal THEN 'changed'
      |         ELSE 'unchanged' END AS change_type,
      |    a.c_acctbal AS old_bal, b.c_acctbal AS new_bal
      |  FROM v1 a FULL OUTER JOIN v2 b ON a.c_custkey = b.c_custkey)
      |SELECT c_custkey, change_type, old_bal, new_bal
      |FROM d WHERE change_type <> 'unchanged'
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q224

  private val PprIters = 4
  private val PprSeedMod = 50

  /** q224: PERSONALIZED PageRank from a seed set — graph-proximity
    * scoring relative to a query set rather than global importance
    * (q89/q133). This is the graph-side data-selection primitive:
    * "rank everything by closeness to these seeds" drives
    * neighborhood sampling, related-entity expansion, and
    * seed-anchored curation the same way q164/q165 do it in embedding
    * space. Recurrence p ← (1−d)·e_S + d·W·p with p₀ = e_S over the
    * q89 customer–supplier graph; seeds are the customers with
    * custkey ≡ 0 (mod $PprSeedMod$). The vector is kept SPARSE
    * (pr > 0 filter): support grows one hop per round from the seeds,
    * so at 100 TB each iteration joins the edge list against a
    * NEIGHBORHOOD-sized vector, not a graph-sized one — the locality
    * that makes PPR the scalable member of the PageRank family.
    * Undirected edges mean no dangling mass: total mass stays exactly
    * 1 per round. Same engine-exactness devices as q89: per-round
    * round-10, [[Fixpoint]] rounds with a fixed-point early stop
    * indistinguishable from running the remaining rounds, and
    * TakeOrdered top-20 (never a global window over the vector).
    */
  def q224PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // deg pre-annotated onto the edge table ONCE (the q89/q133 hoist,
    // proven hash-identical there round 10: `pr / deg` divides the same
    // two values whether deg arrives by per-round join or by column)
    val edges = GraphIndex.degEdges(s, dir)
    val deg = GraphIndex.degrees(s, dir).persist()
    val seeds = deg.filter($"src".startsWith("c") &&
        substring($"src", 2, 20).cast("long") % PprSeedMod === 0)
      .select($"src".as("node"))
    val nSeeds = seeds.count()
    val su = 1.0 / nSeeds
    val restart = seeds.withColumn("rmass", lit((1 - Damping) * su))
    val init = seeds.withColumn("pr", lit(su))
    val pr = Fixpoint(PprIters, edges, deg, restart)(init) { (prev, it) =>
      val contrib = edges
        .join(prev.withColumnRenamed("node", "src"), Seq("src"))
        .select($"dst", ($"pr" / $"deg").as("contrib"))
        .groupBy($"dst").agg(sum($"contrib").as("in_pr"))
        .select($"dst".as("node"), $"in_pr")
      val cur = restart.join(contrib, Seq("node"), "full")
        .select($"node",
          round(coalesce($"rmass", lit(0.0)) +
            lit(Damping) * coalesce($"in_pr", lit(0.0)), 10).as("pr"))
        .filter($"pr" > 0)
      // mass can round to 0, so the probe full-joins prev (a union and one
      // keyed aggregation: one shuffle); a node only prev has: NULL change.
      // The last round is never probed.
      val none = lit(null).cast("double")
      if (it == PprIters) cur
      else cur.select($"node", $"pr", none.as("prev_pr"))
        .unionByName(prev.select($"node", none.as("pr"), $"pr".as("prev_pr")))
        .groupBy($"node").agg(max($"pr").as("pr"), max($"prev_pr").as("prev_pr"))
        .select($"node", $"pr",
          when($"pr".isNotNull, !($"pr" <=> $"prev_pr")).as(Fixpoint.Changed))
    }
    val top = pr.orderBy($"pr".desc, $"node".asc).limit(20)
    val w = Window.orderBy($"pr".desc, $"node".asc)
    top.withColumn("rank", row_number().over(w))
      .select($"rank", $"node", round($"pr", 8).as("ppr"))
      .orderBy($"rank")
  }

  private val q224Sql = {
    def iter(prev: String, i: Int) =
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(p.pr / d.deg) AS in_pr
         |  FROM e JOIN $prev p ON e.src = p.node JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |p$i AS (
         |  SELECT node, pr FROM (
         |    SELECT coalesce(c.node, r.node) AS node,
         |      round(coalesce(r.rmass, 0) + $Damping * coalesce(c.in_pr, 0),
         |        10) AS pr
         |    FROM c$i c FULL JOIN r ON c.node = r.node)
         |  WHERE pr > 0)""".stripMargin
    val chain = (1 to PprIters).map(i => iter(s"p${i - 1}", i)).mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       |seeds AS (
       |  SELECT src AS node FROM deg
       |  WHERE src LIKE 'c%' AND CAST(substr(src, 2) AS BIGINT) % $PprSeedMod = 0),
       |ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM seeds),
       |r AS (SELECT node, (SELECT (1 - $Damping) / ns FROM ns) AS rmass
       |      FROM seeds),
       |p0 AS (SELECT node, (SELECT 1.0 / ns FROM ns) AS pr FROM seeds),
       |$chain
       |SELECT rank, node, ppr FROM (
       |  SELECT node, round(pr, 8) AS ppr,
       |    row_number() OVER (ORDER BY pr DESC, node ASC) AS rank
       |  FROM p$PprIters)
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin
  }

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q224_personalized_pagerank", Seq("EXT-graph", "A2", "J1"),
      "personalized PageRank from a seed set: sparse restart-anchored vector, one-hop-per-round support growth, top-20",
      q224PersonalizedPagerank, Some(q224Sql)),
    GraftQuery("q87_cohort_retention", Seq("A3", "W2", "EXT-olap"),
      "first-order-month cohort retention matrix, offsets 0-3",
      q87CohortRetention, Some(q87Sql)),
    GraftQuery("q96_rank_analytics", Seq("W1", "W2", "EXT-olap"),
      "percent_rank/cume_dist/ntile/lag spend analytics per segment",
      q96RankAnalytics, Some(q96Sql)),
    GraftQuery("q97_table_diff", Seq("S6", "J4", "EXT-olap"),
      "added/removed/changed reconciliation diff of two table versions",
      q97TableDiff, Some(q97Sql)),
    GraftQuery("q92_edit_distance", Seq("EXT-fuzzy"),
      "Levenshtein scoring of the three name-corruption classes",
      q92EditDistance, Some(q92Sql)),
    GraftQuery("q93_hourly_gapfill", Seq("EXT-olap", "P3"),
      "hourly date-spine gap fill over a sparse event slice",
      q93HourlyGapfill, Some(q93Sql)),
    GraftQuery("q94_agg_state_merge", Seq("S6", "A1", "EXT-olap"),
      "incremental aggregate-state merge verified against full recompute",
      q94AggStateMerge, Some(q94Sql)),
    GraftQuery("q89_pagerank", Seq("EXT-graph", "J1", "A1"),
      "3-iteration PageRank over the customer-supplier bipartite graph",
      q89PageRank, Some(q89Sql)),
    GraftQuery("q133_pagerank_deep", Seq("EXT-graph", "J1", "A1"),
      "10-iteration PageRank: localCheckpoint-per-round, constant plan depth, fixed-point early stop",
      q133PageRankDeep, Some(q133Sql)),
    GraftQuery("q140_label_propagation", Seq("EXT-graph", "A2"),
      "synchronous label-propagation communities: mode-of-neighbors via map-side argmin, fixed rounds",
      q140LabelPropagation, Some(q140Sql)),
    GraftQuery("q157_lpa_semi_sync", Seq("EXT-graph", "A2"),
      "semi-synchronous LPA via 2-coloring: per-side half-rounds, oscillation-free on the bipartite graph",
      q157LpaSemiSync, Some(q157Sql)),
    GraftQuery("q147_jaro_winkler", Seq("EXT-fuzzy"),
      "native Jaro-Winkler expression scored on the q92 corruption classes, DuckDB-builtin-verified",
      q147JaroWinkler, Some(q147Sql)),
    GraftQuery("q145_bfs_distance", Seq("EXT-graph", "J3", "A2"),
      "multi-source BFS hop distance: frontier-only expansion, left-anti visited set, fixed rounds",
      q145BfsDistance, Some(q145Sql)),
    GraftQuery("q90_weighted_sample", Seq("EXT-sample"),
      "deterministic Efraimidis-Spirakis weighted sample, top-20 by priority",
      q90WeightedSample, Some(q90Sql)))
}
