package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}
import graft.functions.Fns._

/** Capability extensions beyond the reference's declared surface —
  * operators SURVEY.md §2.4/§2.6 lists as "absent but free from Spark",
  * declared and oracle-checked here so a reference user gains them when
  * switching: set operations, hierarchical rollup aggregation,
  * approximate distinct counting, and Spark 4 native VARIANT handling
  * (the direct analog of the reference's Snowflake VARIANT payloads).
  */
object Extended {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** q30: set operations (SURVEY §2.6): customers active in 1995 vs 1996
    * — intersect (both years), except (churned), union (either); the
    * years sit inside the 1995+ order data so all three cohorts carry
    * rows. Spark INTERSECT/EXCEPT are set-semantics (dedup), same as SQL.
    */
  def q30SetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def active(year: Int) = t(s, dir, "orders")
      .filter($"o_orderdate" >= lit(s"$year-01-01").cast("timestamp") &&
        $"o_orderdate" < lit(s"${year + 1}-01-01").cast("timestamp"))
      .select($"o_custkey")
    val a94 = active(1995)
    val a95 = active(1996)
    a94.intersect(a95).select($"o_custkey", lit("both").as("cohort"))
      .unionByName(a94.except(a95).select($"o_custkey", lit("churned").as("cohort")))
      .unionByName(a95.except(a94).select($"o_custkey", lit("new").as("cohort")))
      .orderBy($"cohort", $"o_custkey")
  }

  private val q30Sql =
    """WITH a94 AS (SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'),
      |a95 AS (SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
      |SELECT o_custkey, cohort FROM (
      |  SELECT o_custkey, 'both' AS cohort FROM (SELECT o_custkey FROM a94 INTERSECT SELECT o_custkey FROM a95)
      |  UNION ALL
      |  SELECT o_custkey, 'churned' FROM (SELECT o_custkey FROM a94 EXCEPT SELECT o_custkey FROM a95)
      |  UNION ALL
      |  SELECT o_custkey, 'new' FROM (SELECT o_custkey FROM a95 EXCEPT SELECT o_custkey FROM a94))
      |ORDER BY cohort, o_custkey""".stripMargin

  /** q31: hierarchical rollup (SURVEY §2.4 "absent" list): revenue by
    * (region, nation) with subtotals and grand total. grouping() flags
    * disambiguate NULL-as-subtotal from NULL data.
    */
  def q31Rollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_orders"), exactSum2($"o_totalprice").as("revenue"),
        grouping($"r_name").cast("int").as("g_region"),
        grouping($"n_name").cast("int").as("g_nation"))
      .orderBy($"g_region", $"g_nation", $"r_name", $"n_name")
  }

  private val q31Sql =
    """SELECT r_name, n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(grouping(r_name) AS INTEGER) AS g_region,
      |  CAST(grouping(n_name) AS INTEGER) AS g_nation
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY g_region, g_nation, r_name, n_name""".stripMargin

  /** q32: approximate distinct counting (HLL). Sketch internals differ
    * per engine, so the oracle checks the EXACT side columns and the
    * approximate column is validated relationally in-plan: each engine
    * emits one row per group with a `within_tol` flag asserting ITS OWN
    * sketch is inside 5% of its own exact count. Correct behavior = every
    * flag true, which both engines agree on — and unlike the previous
    * emit-violations-only form (rows only on failure), the result is
    * non-empty, so the driver's hash compare exercises real values
    * (group keys + exact counts + flags), not a vacuous 0=0.
    */
  def q32ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Distinct FIRST, then count + sketch: countDistinct-alongside-
    // another-agg makes Spark partial-aggregate the HLL buffer per
    // (flag, partkey) group — tens of thousands of dense ~16 KB HLL
    // buffers through the shuffle. HLL is duplicate-insensitive, so the
    // estimate over the distinct pairs is IDENTICAL, and this shape
    // shuffles only the deduped keys + one partial sketch per partition
    // per flag (measured: a round-robin pre-spread costs more than the
    // single-task map-side distinct it parallelizes — scan stays plain).
    t(s, dir, "lineitem")
      .select($"l_returnflag", $"l_partkey").distinct()
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("exact_parts"),
        approx_count_distinct($"l_partkey", 0.01).as("approx_parts"))
      .select($"l_returnflag", $"exact_parts",
        (abs($"approx_parts" - $"exact_parts") <= $"exact_parts" * 0.05)
          .as("within_tol"))
      .orderBy($"l_returnflag")
  }

  private val q32Sql =
    """SELECT l_returnflag, exact_parts,
      |  abs(approx_parts - exact_parts) <= exact_parts * 0.05 AS within_tol
      |FROM (
      |  SELECT l_returnflag,
      |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |    approx_count_distinct(l_partkey) AS approx_parts
      |  FROM lineitem GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  /** q33: Spark 4 native VARIANT (the reference's Snowflake VARIANT
    * analog, SURVEY §1.2): parse_json into VariantType, path-extract with
    * variant_get — schema-on-read without a declared StructType.
    */
  def q33VariantJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_type",
        variant_get(parse_json($"props"), "$.k", "int").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  private val q33Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val SaltBuckets = 8

  /** q34: skew-resistant two-phase aggregation — the salting pattern for
    * hot keys at scale: phase 1 aggregates on (key, salt) spreading a hot
    * key over SaltBuckets reducers, phase 2 merges the partials. The
    * oracle is the PLAIN single-phase GROUP BY — proving the salted plan
    * is semantics-preserving (counts/sums compose; the decimal sum keeps
    * the merge exact).
    */
  def q34SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .withColumn("salt", pmod($"event_id", lit(SaltBuckets)))
      .groupBy($"event_type", $"salt")
      .agg(count(lit(1)).as("pn"),
        sum($"value".cast("decimal(18,2)")).as("pv"))
      .groupBy($"event_type")
      .agg(sum($"pn").as("n"), sum($"pv").cast("double").as("total_value"))
      .orderBy($"event_type")
  }

  private val q34Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q57: salted JOIN against an actually-hot key — the companion proof
    * to q34 (which salts an aggregation). The fact side maps half of all
    * events onto one key (user_id < 75 → 0): a plain shuffle join would
    * put ~50% of the fact table in ONE reducer task. The salted plan
    * spreads the hot key over [[SaltBuckets]] reducers: fact rows salt by
    * pmod(event_id, B); the dim side is replicated ×B via explode; the
    * join key becomes (k, salt). A shuffle-hash hint forces the shuffle
    * path (the 150-row dim would otherwise broadcast and dodge the skew
    * entirely — which IS the first-choice fix when the dim fits; salting
    * is for when both sides are large). The oracle is the PLAIN join +
    * GROUP BY, proving the rewrite is semantics-preserving. Spark's AQE
    * skew-join handles this case automatically by splitting oversized
    * partitions (spark.sql.adaptive.skewJoin.*) — the salted shape is the
    * portable variant that also covers aggregations and pre-AQE engines.
    */
  def q57SkewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fact = t(s, dir, "events")
      .select(when($"user_id" < 75, 0L).otherwise($"user_id").as("k"),
        $"event_id", $"value")
      .withColumn("salt", pmod($"event_id", lit(SaltBuckets)))
    val dim = t(s, dir, "customer").filter($"c_custkey" < 150)
      .select($"c_custkey".as("k"), $"c_mktsegment")
      .withColumn("salt", explode(array((0 until SaltBuckets).map(lit(_)): _*)))
    fact.join(dim.hint("shuffle_hash"), Seq("k", "salt"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), exactSum2($"value").as("total_value"))
      .orderBy($"c_mktsegment")
  }

  private val q57Sql =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM (SELECT CASE WHEN user_id < 75 THEN CAST(0 AS BIGINT) ELSE user_id END AS k, value
      |      FROM events) f
      |JOIN (SELECT c_custkey AS k, c_mktsegment FROM customer WHERE c_custkey < 150) d
      |  USING (k)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q37: exact interpolated percentiles (R-7 definition in both Spark's
    * `percentile` and DuckDB's `quantile_cont`): order-value quartiles per
    * order status. Interpolation is fixed-order arithmetic on the two
    * neighbors of a sorted sequence — deterministic across engines.
    */
  def q37Percentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_orderstatus")
      .agg(
        expr("percentile(o_totalprice, 0.25)").as("p25"),
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.95)").as("p95"))
      .orderBy($"o_orderstatus")
  }

  private val q37Sql =
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.25) AS p25,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.95) AS p95
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** q38: fixed-width histogram — floor-binning is exact integer
    * arithmetic on identical doubles, the distributed-histogram staple.
    */
  def q38Histogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select((floor($"o_totalprice" / 50000.0) * 50000).cast("long").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
      .orderBy($"bucket")
  }

  private val q38Sql =
    """SELECT CAST(floor(o_totalprice / 50000.0) * 50000 AS BIGINT) AS bucket, count(*) AS n
      |FROM orders
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** q39: pivot — event counts per user-id decade, one column per event
    * type (the DataFrame `pivot` API; the oracle spells it as CASE
    * aggregations, which is also what Catalyst compiles pivot into).
    */
  def q39Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .withColumn("user_decade", (floor($"user_id" / 100) * 100).cast("long"))
      .groupBy($"user_decade")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"user_decade")
  }

  private val q39Sql =
    """SELECT CAST(floor(user_id / 100) * 100 AS BIGINT) AS user_decade,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'error') AS error,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events
      |GROUP BY 1
      |ORDER BY user_decade""".stripMargin

  /** q41: full cube over (status, priority-class) — all four grouping-set
    * combinations with grouping flags.
    */
  def q41Cube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .withColumn("prio", substring($"o_orderpriority", 1, 1))
      .cube($"o_orderstatus", $"prio")
      .agg(count(lit(1)).as("n"), exactSum2($"o_totalprice").as("revenue"),
        grouping($"o_orderstatus").cast("int").as("g_status"),
        grouping($"prio").cast("int").as("g_prio"))
      .orderBy($"g_status", $"g_prio", $"o_orderstatus", $"prio")
  }

  private val q41Sql =
    """SELECT o_orderstatus, prio, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(grouping(prio) AS INTEGER) AS g_prio
      |FROM (SELECT o_orderstatus, substring(o_orderpriority, 1, 1) AS prio, o_totalprice FROM orders)
      |GROUP BY CUBE (o_orderstatus, prio)
      |ORDER BY g_status, g_prio, o_orderstatus, prio""".stripMargin

  /** q42: int8 embedding quantization — the memory-compression step of a
    * large-scale ANN index (4x smaller vectors). Per-vector symmetric
    * scale = 127/max|v|; code = floor(v*scale + 0.5) (explicit floor
    * form, not round(), so the halfway rule is pinned to identical
    * arithmetic in every engine). Output: per-vector quantization error
    * stats, exact-deterministic doubles.
    */
  def q42QuantizeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.NativeExpressions.quantizeStats
    // One-pass native expression over the raw float array
    // (differential-tested against the builtin transform/zip_with
    // formulation in NativeExpressionsSpec).
    val q = quantizeStats($"embedding")
    t(s, dir, "embeddings")
      .select($"vec_id", q.as("q"))
      .select($"vec_id",
        round($"q.max_abs", 6).as("max_abs"),
        $"q.max_code".as("max_code"),
        $"q.min_code".as("min_code"),
        round($"q.max_abs_err", 6).as("max_abs_err"))
      .orderBy($"vec_id")
  }

  private val q42Sql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS max_abs
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, max_abs, v, 127.0 / max_abs AS scale,
      |    list_transform(v, x -> floor(x * (127.0 / max_abs) + 0.5)) AS codes
      |  FROM e)
      |SELECT vec_id,
      |  round(max_abs, 6) AS max_abs,
      |  CAST(list_max(codes) AS BIGINT) AS max_code,
      |  CAST(list_min(codes) AS BIGINT) AS min_code,
      |  round(list_max(list_transform(range(1, len(v) + 1),
      |    i -> abs(codes[i] / scale - v[i]))), 6) AS max_abs_err
      |FROM q
      |ORDER BY vec_id""".stripMargin

  /** q66: per-group winsorization — robust feature clipping, the
    * standard outlier treatment before numeric features enter training:
    * each event's value is clipped to its event-type's [p05, p95] band.
    * The percentile interpolation is the same R-7 arithmetic q37 proved
    * bit-identical across engines, and clipping is exact comparison, so
    * no rounding is needed anywhere. Plan: one tiny per-type stats agg
    * broadcast back over a scan-local least/greatest — the clip itself
    * never shuffles the fact table.
    */
  def q66Winsorize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stats = t(s, dir, "events")
      .groupBy($"event_type")
      .agg(expr("percentile(value, 0.05)").as("p05"),
        expr("percentile(value, 0.95)").as("p95"))
    t(s, dir, "events")
      .join(broadcast(stats), "event_type")
      .select($"event_id", $"event_type", $"value",
        least(greatest($"value", $"p05"), $"p95").as("clipped"),
        ($"value" < $"p05" || $"value" > $"p95").as("was_clipped"))
      .orderBy($"event_id")
  }

  private val q66Sql =
    """WITH stats AS (
      |  SELECT event_type,
      |    quantile_cont(value, 0.05) AS p05,
      |    quantile_cont(value, 0.95) AS p95
      |  FROM events GROUP BY event_type)
      |SELECT event_id, e.event_type, value,
      |  least(greatest(value, p05), p95) AS clipped,
      |  (value < p05 OR value > p95) AS was_clipped
      |FROM events e JOIN stats USING (event_type)
      |ORDER BY event_id""".stripMargin

  /** q68: sketch quantiles validated against exact — the 100 TB quantile
    * path. Exact `percentile` (q37/q66) buffers every value of a group;
    * `approx_percentile` (Greenwald-Khanna) streams in bounded memory and
    * merges across partitions — the only viable shape when one group
    * holds billions of rows. Sketch internals differ per engine, so the
    * oracle uses the q32 relational-validation pattern: each engine
    * emits one row per group with its exact percentiles plus a
    * `within_tol` flag asserting its OWN sketch is inside 5% of its own
    * exact answer (DuckDB validates its t-digest the same way). Every
    * flag true = agreement, and the result is non-empty so the hash
    * compare checks real percentile values, not a vacuous 0=0.
    */
  def q68ApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(
        expr("percentile(value, 0.5)").as("exact_p50"),
        expr("percentile(value, 0.9)").as("exact_p90"),
        expr("approx_percentile(value, 0.5, 1000)").as("a50"),
        expr("approx_percentile(value, 0.9, 1000)").as("a90"))
      .select($"event_type",
        round($"exact_p50", 6).as("exact_p50"),
        round($"exact_p90", 6).as("exact_p90"),
        (abs($"a50" - $"exact_p50") <= $"exact_p50" * 0.05 &&
          abs($"a90" - $"exact_p90") <= $"exact_p90" * 0.05)
          .as("within_tol"))
      .orderBy($"event_type")
  }

  private val q68Sql =
    """SELECT event_type, round(exact_p50, 6) AS exact_p50,
      |  round(exact_p90, 6) AS exact_p90,
      |  (abs(a50 - exact_p50) <= exact_p50 * 0.05
      |   AND abs(a90 - exact_p90) <= exact_p90 * 0.05) AS within_tol
      |FROM (
      |  SELECT event_type,
      |    quantile_cont(value, 0.5) AS exact_p50,
      |    quantile_cont(value, 0.9) AS exact_p90,
      |    approx_quantile(value, 0.5) AS a50,
      |    approx_quantile(value, 0.9) AS a90
      |  FROM events GROUP BY event_type)
      |ORDER BY event_type""".stripMargin

  /** q49: PII anonymization — the release-a-dataset operator chain:
    * pseudonymize the direct identifier (keyed md5 — deterministic so
    * joins on the pseudonym still work), GENERALIZE the quasi-identifier
    * (account balance → 500-wide buckets), and k-anonymity-SUPPRESS: any
    * (segment, bucket) cell with fewer than 10 members has its bucket
    * nulled, so no released row is identifiable within a group smaller
    * than k (115 of 1,500 rows suppressed at sf0.01 — both branches live). One window count over the generalized key — no extra
    * shuffle beyond the groupBy a release job does anyway.
    */
  def q49Anonymize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"c_mktsegment", $"bucket")
    t(s, dir, "customer")
      .select($"c_custkey", md5(concat(lit("graft:"), $"c_name")).as("name_pseudonym"),
        $"c_mktsegment", (floor($"c_acctbal" / 500.0) * 500.0).as("bucket"))
      .withColumn("cell_n", count(lit(1)).over(w))
      .select($"c_custkey", $"name_pseudonym", $"c_mktsegment",
        when($"cell_n" >= 10, $"bucket").as("acctbal_bucket"))
      .orderBy($"c_custkey")
  }

  private val q49Sql =
    """SELECT c_custkey, name_pseudonym, c_mktsegment,
      |  CASE WHEN cell_n >= 10 THEN bucket END AS acctbal_bucket
      |FROM (
      |  SELECT c_custkey, md5('graft:' || c_name) AS name_pseudonym,
      |    c_mktsegment, floor(c_acctbal / 500.0) * 500.0 AS bucket,
      |    count(*) OVER (PARTITION BY c_mktsegment,
      |      floor(c_acctbal / 500.0) * 500.0) AS cell_n
      |  FROM customer)
      |ORDER BY c_custkey""".stripMargin

  /** q50: deterministic train/val/test split — hash-mod assignment on the
    * stable id (first md5 hex nibble: 0-b train = 75%, c-d val = 12.5%,
    * e-f test = 12.5%). No RNG: the split is reproducible across engines,
    * reruns, and backfills, and membership can be recomputed from the id
    * alone — the property a training pipeline needs so an example never
    * migrates between splits when the corpus grows.
    */
  def q50HashSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = substring(md5($"doc_id".cast("string")), 1, 1)
    t(s, dir, "documents")
      .select($"doc_id", h.as("h"),
        when(h <= "b", "train").when(h <= "d", "val").otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  private val q50Sql =
    """SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
      |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
      |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** q69: bloom-filter semi-join pruning — the scan-side prune that makes
    * a selective dim→fact join cheap at 100 TB. Spark's own
    * InjectRuntimeFilter plants this pair ([[graft.functions
    * .SketchAggregates.bloomFilterAgg]] / mightContain) automatically for
    * qualifying shuffle joins; building it explicitly covers the cases
    * the rule skips (reused filters, pre-computed dim sets, filters
    * persisted across jobs) and keeps the shape visible in the plan.
    *
    * Build: one distributed pass over the pruned dim keys (partial
    * filters OR-merged), ~100 KB binary to the driver — the bloom analog
    * of q06's scalar high-water mark. Probe: `might_contain` evaluates
    * INSIDE the fact scan's filter, so ~4/5 of orders never reach the
    * join; false positives are possible (never negatives), so the exact
    * broadcast semi-join after it removes them — correctness never
    * depends on the filter, only the pruned volume does. At cluster
    * scale the binary rides the closure to every executor; the fact side
    * is pruned BEFORE any exchange, which is the entire point.
    */
  def q69BloomPruneJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.SketchAggregates.{bloomFilterAgg, mightContain}
    val dim = t(s, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val bloom = dim
      .agg(bloomFilterAgg($"c_custkey", 100000L, 800000L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    t(s, dir, "orders")
      .filter(mightContain(lit(bloom), $"o_custkey"))
      .join(broadcast(dim), $"o_custkey" === $"c_custkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        exactSum2($"o_totalprice").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  private val q69Sql =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'BUILDING')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q71: rolling time-series features — per-user daily activity with a
    * trailing 7-day RANGE frame (the feature-engineering staple for
    * activity/recency signals). The RANGE frame is keyed on day number,
    * not row position, so gaps in a user's activity shorten the window
    * correctly (a rows-frame would silently reach back weeks). Money
    * sums roll as DECIMAL and convert to double once at the end, so the
    * rolling sum is exact and engine-independent. Plan: one groupBy
    * shuffle on (user, day), one window shuffle on user; per-key window
    * state is bounded by the frame, so the shape survives any corpus
    * length.
    */
  def q71RollingFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"day_num")
      .rangeBetween(-6, 0)
    t(s, dir, "events")
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).as("day_value"))
      .withColumn("day_num",
        datediff($"day", lit("2024-01-01").cast("date")))
      .withColumn("roll7_events", sum($"n_events").over(w))
      .withColumn("roll7_value", sum($"day_value").over(w).cast("double"))
      .select($"user_id", $"day_num", $"n_events",
        $"roll7_events", $"roll7_value")
      .orderBy($"user_id", $"day_num")
  }

  private val q71Sql =
    """WITH daily AS (
      |  SELECT user_id,
      |    date_diff('day', DATE '2024-01-01',
      |              CAST(date_trunc('day', ts) AS DATE)) AS day_num,
      |    count(*) AS n_events,
      |    sum(CAST(value AS DECIMAL(18,2))) AS day_value
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, day_num, n_events,
      |  CAST(sum(n_events) OVER w AS BIGINT) AS roll7_events,
      |  CAST(sum(day_value) OVER w AS DOUBLE) AS roll7_value
      |FROM daily
      |WINDOW w AS (PARTITION BY user_id ORDER BY day_num
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, day_num""".stripMargin

  /** q72: equi-depth histogram via ntile over a TOTAL order — the
    * exact-answer baseline for distribution profiling (the q22 role:
    * ground truth the sketch path is judged against; q68's GK sketch IS
    * that scale path, computing the same boundaries in bounded memory).
    * ntile needs the global sort, so this baseline is a single-sort
    * plan by construction; the (value, event_id) tiebreak makes the
    * decile assignment of duplicate values engine-independent.
    */
  def q72EquidepthDeciles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"value", $"event_id")
    t(s, dir, "events")
      .select($"event_id", $"value")
      .withColumn("decile", ntile(10).over(w))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n"),
        min($"value").as("lo"), max($"value").as("hi"))
      .orderBy($"decile")
  }

  private val q72Sql =
    """SELECT decile, count(*) AS n, min(value) AS lo, max(value) AS hi
      |FROM (SELECT event_id, value,
      |        ntile(10) OVER (ORDER BY value, event_id) AS decile
      |      FROM events)
      |GROUP BY decile
      |ORDER BY decile""".stripMargin

  /** q73: burst deduplication — collapse repeated (user, type) events
    * within a 300 s session-gap into their first occurrence, keeping a
    * suppressed-count audit. This is the BATCH TWIN of streaming
    * dedup-with-state (StreamingOps' dropDuplicates/sessionize family):
    * same gaps-and-islands construction as q14, different emission
    * (first event per island + island size, instead of per-island
    * aggregates). One shuffle on (user, type); the burst-size count
    * window refines the same partitioning, so it adds a sort but no
    * second exchange.
    */
  def q73BurstDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts".asc, $"event_id".asc)
    t(s, dir, "events")
      .withColumn("prev_ts", lag($"ts", 1).over(byKey))
      .withColumn("new_burst",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 300L, 1L)
          .otherwise(0L))
      .withColumn("burst_seq", sum($"new_burst").over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("burst_n", count(lit(1)).over(
        Window.partitionBy($"user_id", $"event_type", $"burst_seq")))
      .filter($"new_burst" === 1L)
      .select($"user_id", $"event_type",
        $"event_id".as("kept_event_id"), $"burst_n")
      .orderBy($"user_id", $"event_type", $"kept_event_id")
  }

  private val q73Sql =
    """WITH l AS (
      |  SELECT event_id, user_id, event_type, ts,
      |    lag(ts) OVER (PARTITION BY user_id, event_type
      |                  ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |b AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |      OR date_diff('second', prev_ts, ts) > 300 THEN 1 ELSE 0 END
      |    AS new_burst
      |  FROM l),
      |sq AS (
      |  SELECT *, sum(new_burst) OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst_seq
      |  FROM b),
      |c AS (
      |  -- burst_n must count ALL events of the burst, so the window runs
      |  -- in its own block: a window in the keeper-filtered block would
      |  -- evaluate AFTER the WHERE and count only keepers (always 1)
      |  SELECT *, count(*) OVER (PARTITION BY user_id, event_type,
      |      burst_seq) AS burst_n
      |  FROM sq)
      |SELECT user_id, event_type, event_id AS kept_event_id, burst_n
      |FROM c WHERE new_burst = 1
      |ORDER BY user_id, event_type, kept_event_id""".stripMargin

  /** q77: distribution drift detection — the data-quality pass a
    * continuously-fed training pipeline runs between ingestion windows:
    * per event type, compare the value histogram of the first half of
    * the month against the second via a chi-square-style distance
    * Σ (p−q)²/(p+q). Deliberately NOT PSI: the log in PSI is libm
    * (cross-engine unstable); the chi-square form is pure rational
    * arithmetic. Each bin's contribution is rounded and summed as
    * DECIMAL, so the reduction is exact and order-independent (same
    * device as q74's ADC). Plan: one scan, one groupBy shuffle on
    * (type, bin), one bounded window per type — scan-speed at any
    * corpus size; bins are fixed-width (the streaming-friendly binning
    * of q38), so the state is O(types × bins).
    */
  def q77DriftDetect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy($"event_type")
    val c = t(s, dir, "events")
      .select($"event_type",
        (floor($"value" / 50.0) * 50).cast("long").as("bin"),
        when(dayofmonth($"ts") <= 15, 1L).otherwise(0L).as("in_p1"))
      .groupBy($"event_type", $"bin")
      .agg(sum($"in_p1").as("n1"),
        sum(lit(1L) - $"in_p1").as("n2"))
      .withColumn("t1", sum($"n1").over(byType))
      .withColumn("t2", sum($"n2").over(byType))
    c.select($"event_type", $"bin",
        round(($"n1" / $"t1" - $"n2" / $"t2") * ($"n1" / $"t1" - $"n2" / $"t2")
          / ($"n1" / $"t1" + $"n2" / $"t2"), 12)
          .cast("decimal(18,12)").as("contrib"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_bins"),
        round(sum($"contrib").cast("double"), 8).as("drift"))
      .orderBy($"event_type")
  }

  private val q77Sql =
    """WITH c AS (
      |  SELECT event_type, CAST(floor(value / 50.0) * 50 AS BIGINT) AS bin,
      |    CAST(sum(CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN date_part('day', ts) <= 15 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS n2
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT *, CAST(sum(n1) OVER (PARTITION BY event_type) AS BIGINT) AS t1,
      |    CAST(sum(n2) OVER (PARTITION BY event_type) AS BIGINT) AS t2
      |  FROM c)
      |SELECT event_type, count(*) AS n_bins,
      |  round(CAST(sum(CAST(round(
      |    (n1 / t1 - n2 / t2) * (n1 / t1 - n2 / t2) / (n1 / t1 + n2 / t2),
      |    12) AS DECIMAL(18,12))) AS DOUBLE), 8) AS drift
      |FROM w
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q79: last-touch attribution — each purchase attributed to the most
    * recent preceding click by the same user within a 7-day lookback
    * (the standard marketing-attribution / label-joining shape). One
    * ordered pass per user: the carry-forward is `last(click, ignore
    * nulls)` over an unbounded-preceding-to-1-preceding frame — the
    * ignore-nulls window idiom, distinct from q35's tagged-union as-of
    * join (which targets TWO tables; here the anchor and the target live
    * in one ordered stream, so the window form wins: one shuffle on
    * user, no join at all). Purchases with no in-window click report
    * attributed=false with the click fields null.
    */
  def q79Attribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .filter($"event_type".isin("click", "purchase"))
      .select($"event_id", $"user_id", $"event_type", $"ts")
      .withColumn("last_click_id",
        last(when($"event_type" === "click", $"event_id"), ignoreNulls = true)
          .over(w))
      .withColumn("last_click_ts",
        last(when($"event_type" === "click", $"ts"), ignoreNulls = true)
          .over(w))
      .filter($"event_type" === "purchase")
      .withColumn("gap_s",
        unix_timestamp($"ts") - unix_timestamp($"last_click_ts"))
      .withColumn("attributed",
        $"last_click_id".isNotNull && $"gap_s" <= 604800L)
      .select($"event_id".as("purchase_id"), $"user_id",
        when($"attributed", $"last_click_id").as("click_id"),
        when($"attributed", $"gap_s").as("gap_s"),
        $"attributed")
      .orderBy($"purchase_id")
  }

  private val q79Sql =
    """WITH s AS (
      |  SELECT event_id, user_id, event_type, ts,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END
      |      IGNORE NULLS) OVER w AS last_click_id,
      |    last_value(CASE WHEN event_type = 'click' THEN ts END
      |      IGNORE NULLS) OVER w AS last_click_ts
      |  FROM events
      |  WHERE event_type IN ('click', 'purchase')
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id, last_click_id,
      |    date_diff('second', last_click_ts, ts) AS gap0,
      |    (last_click_id IS NOT NULL
      |      AND date_diff('second', last_click_ts, ts) <= 604800)
      |      AS attributed
      |  FROM s WHERE event_type = 'purchase')
      |SELECT purchase_id, user_id,
      |  CASE WHEN attributed THEN last_click_id END AS click_id,
      |  CASE WHEN attributed THEN gap0 END AS gap_s,
      |  attributed
      |FROM p
      |ORDER BY purchase_id""".stripMargin

  /** q85: robust outlier detection — |modified z-score| > 3.5 on the
    * median/MAD scale (Iglewicz & Hoaglin's 0.6745 normal-consistency
    * constant), the data-quality pass that survives the heavy tails
    * that break mean/stddev z-scores (the outliers being hunted inflate
    * the very stddev that is supposed to expose them; the median and
    * MAD are 50%-breakdown estimators, immune to them). Median and MAD
    * are rounded to 8 digits before scoring (the two engines' exact-
    * percentile interpolations differ in the last ulp) and the score to
    * 6 before the cut, so the kept set is engine-independent. Plan: two
    * exact-percentile aggregations (value, then |value−med|) + two
    * broadcast joins back — the exactness baseline; at corpus scale
    * both percentile passes switch to approx_percentile exactly as q68
    * validates.
    */
  def q85RobustOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val med = ev.groupBy($"event_type")
      .agg(round(expr("percentile(value, 0.5)"), 8).as("med"))
    val j1 = ev.join(broadcast(med), "event_type")
    val mad = j1.groupBy($"event_type")
      .agg(round(expr("percentile(abs(value - med), 0.5)"), 8).as("mad"))
    j1.join(broadcast(mad), "event_type")
      .withColumn("rscore",
        round(($"value" - $"med") * 0.6745 / $"mad", 6))
      .filter(abs($"rscore") > 3.5)
      .select($"event_id", $"event_type", $"value", $"rscore")
      .orderBy($"event_id")
  }

  private val q85Sql =
    """WITH med AS (
      |  SELECT event_type, round(quantile_cont(value, 0.5), 8) AS med
      |  FROM events GROUP BY event_type),
      |j1 AS (SELECT e.event_id, e.event_type, e.value, m.med
      |       FROM events e JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type,
      |    round(quantile_cont(abs(value - med), 0.5), 8) AS mad
      |  FROM j1 GROUP BY event_type)
      |SELECT event_id, event_type, value,
      |  round((value - med) * 0.6745 / mad, 6) AS rscore
      |FROM j1 JOIN mad USING (event_type)
      |WHERE abs(round((value - med) * 0.6745 / mad, 6)) > 3.5
      |ORDER BY event_id""".stripMargin

  /** q86: first-order session transition matrix — P(next event type |
    * current event type) per user-ordered stream, the Markov model
    * behind funnel diagnosis, next-action prediction features, and bot
    * detection (a scraper's matrix is near-deterministic; a human's is
    * diffuse). One lag window per user (the q73/q79 partitioning — at
    * scale these share one shuffle) + a types²-sized aggregate. Counts
    * are exact longs; the probability is a single double division
    * rounded to 6 — no sum-of-doubles anywhere.
    */
  def q86TransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val wp = Window.partitionBy($"prev_type")
    t(s, dir, "events")
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("row_total", sum($"cnt").over(wp))
      .select($"prev_type", $"next_type", $"cnt", $"row_total",
        round($"cnt".cast("double") / $"row_total".cast("double"), 6)
          .as("prob"))
      .orderBy($"prev_type", $"next_type")
  }

  private val q86Sql =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |c AS (
      |  SELECT prev_type, event_type AS next_type,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM s WHERE prev_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT prev_type, next_type, cnt,
      |  CAST(sum(cnt) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total,
      |  round(CAST(cnt AS DOUBLE) /
      |    CAST(sum(cnt) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS prob
      |FROM c
      |ORDER BY prev_type, next_type""".stripMargin

  private val MarkovSteps = 8

  /** q148: Markov-chain (removal-effect) attribution — the data-driven
    * upgrade of q79's last-touch and q106's linear credit: model the
    * event stream as a first-order chain (q86's transition matrix with
    * START / CONV / DROP states; a purchase absorbs into CONV, leaving a
    * purchase restarts at START, stream end without one drops), then
    * credit each channel by its REMOVAL EFFECT — how much the START→CONV
    * absorption probability falls when that channel's states redirect to
    * DROP (Anderl et al. 2014). Absorption is computed by
    * `MarkovSteps` synchronous vector–matrix steps, all channel-removal
    * VARIANTS advancing together in one keyed aggregation per step (the
    * per-round tables are (channels+1)·|states| rows — bounded by the
    * event-type domain, never the stream; the stream is touched once, to
    * count transitions). Per-step round(…,12) pins both engines to
    * identical doubles — the q89/q133 discipline; the oracle unrolls the
    * same steps as CTEs. The two nested-loop products are bounded scalar
    * attaches: variants × the |states|²-sized matrix, and the 1-row base
    * absorption joined back for the effect division.
    */
  def q148MarkovAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val ev = t(s, dir, "events")
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .withColumn("nxt", lead($"event_type", 1).over(w))
    val steps = ev.select(
      when($"prev".isNull || $"prev" === "purchase", lit("START"))
        .otherwise($"prev").as("src"),
      when($"event_type" === "purchase", lit("CONV"))
        .otherwise($"event_type").as("dst"))
    val drops = ev.filter($"nxt".isNull && $"event_type" =!= "purchase")
      .select($"event_type".as("src"), lit("DROP").as("dst"))
    val wsrc = Window.partitionBy($"src")
    val tr = steps.unionByName(drops)
      .groupBy($"src", $"dst").agg(count(lit(1)).as("cnt"))
      .withColumn("p", $"cnt".cast("double") /
        sum($"cnt").over(wsrc).cast("double"))
      .select($"src", $"dst", $"p")
    val channels = ev.select($"event_type").distinct()
      .filter($"event_type" =!= "purchase")
      .select($"event_type".as("variant"))
    val variants = channels
      .unionByName(Seq("_base").toDF("variant"))
    val redirected = variants.crossJoin(tr)
      .filter($"src" =!= $"variant")
      .select($"variant", $"src",
        when($"dst" === $"variant", lit("DROP")).otherwise($"dst").as("dst"),
        $"p")
      .groupBy($"variant", $"src", $"dst").agg(sum($"p").as("p"))
    val absorbing = variants
      .select($"variant",
        explode(array(lit("CONV"), lit("DROP"))).as("st"))
      .select($"variant", $"st".as("src"), $"st".as("dst"), lit(1.0).as("p"))
    val pmat = redirected.unionByName(absorbing)
    val v0 = variants
      .select($"variant", lit("START").as("state"), lit(1.0).as("prob"))
      .localCheckpoint()
    val v = Fixpoint(MarkovSteps, pmat)(v0) { (prev, _) =>
      prev.as("v")
        .join(pmat.as("m"),
          $"v.variant" === $"m.variant" && $"v.state" === $"m.src")
        .groupBy($"v.variant", $"m.dst")
        .agg(round(sum($"v.prob" * $"m.p"), 12).as("prob"))
        .select($"variant", $"dst".as("state"), $"prob")
    }
    val conv = v.filter($"state" === "CONV")
    val base = conv.filter($"variant" === "_base")
      .select($"prob".as("base_conv"))
    conv.filter($"variant" =!= "_base")
      .crossJoin(broadcast(base))
      .select($"variant".as("channel"),
        round($"prob", 6).as("removal_conv"),
        round($"base_conv", 6).as("base_conv"),
        round(when($"base_conv" > 0, lit(1.0) - $"prob" / $"base_conv"), 6)
          .as("removal_effect"))
      .orderBy($"channel")
  }

  private val q148Sql = {
    def step(i: Int) =
      s"""v$i AS (
         |  SELECT v.variant, m.dst AS state, round(sum(v.prob * m.p), 12) AS prob
         |  FROM v${i - 1} v JOIN pm m
         |    ON v.variant = m.variant AND v.state = m.src
         |  GROUP BY 1, 2)""".stripMargin
    val chain = (1 to MarkovSteps).map(step).mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER w AS prev, lead(event_type) OVER w AS nxt
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |edges AS (
       |  SELECT CASE WHEN prev IS NULL OR prev = 'purchase' THEN 'START'
       |              ELSE prev END AS src,
       |         CASE WHEN event_type = 'purchase' THEN 'CONV'
       |              ELSE event_type END AS dst
       |  FROM ev
       |  UNION ALL
       |  SELECT event_type, 'DROP' FROM ev
       |  WHERE nxt IS NULL AND event_type <> 'purchase'),
       |tr AS (
       |  SELECT src, dst, CAST(count(*) AS DOUBLE) /
       |    CAST(sum(count(*)) OVER (PARTITION BY src) AS DOUBLE) AS p
       |  FROM edges GROUP BY src, dst),
       |var AS (
       |  SELECT DISTINCT event_type AS variant FROM events
       |  WHERE event_type <> 'purchase'
       |  UNION ALL SELECT '_base'),
       |pm0 AS (
       |  SELECT variant, src,
       |    CASE WHEN dst = variant THEN 'DROP' ELSE dst END AS dst, p
       |  FROM var CROSS JOIN tr WHERE src <> variant),
       |pm AS (
       |  SELECT variant, src, dst, sum(p) AS p FROM pm0 GROUP BY 1, 2, 3
       |  UNION ALL SELECT variant, 'CONV', 'CONV', 1.0 FROM var
       |  UNION ALL SELECT variant, 'DROP', 'DROP', 1.0 FROM var),
       |v0 AS (SELECT variant, 'START' AS state, 1.0 AS prob FROM var),
       |$chain,
       |base AS (SELECT prob AS base_conv FROM v$MarkovSteps
       |         WHERE variant = '_base' AND state = 'CONV')
       |SELECT variant AS channel, round(prob, 6) AS removal_conv,
       |  round(base_conv, 6) AS base_conv,
       |  round(CASE WHEN base_conv > 0 THEN 1.0 - prob / base_conv END, 6)
       |    AS removal_effect
       |FROM v$MarkovSteps CROSS JOIN base
       |WHERE state = 'CONV' AND variant <> '_base'
       |ORDER BY channel""".stripMargin
  }

  /** q150: sequential pattern mining — global top-15 event-type TRIGRAMS
    * by support, the frequent-subsequence census behind funnel discovery
    * (q67 checks ONE known funnel; this finds which sequences are worth
    * checking). Trigrams materialize in the per-user ordered window
    * (two leads, zero self-joins — the classic candidate-generation
    * join of GSP/PrefixSpan collapses into the window because k=3 is
    * fixed), support counts shuffle on the trigram key, and the top-15
    * emission is orderBy().limit() → TakeOrderedAndProject (the q89
    * rewrite discipline: per-task 15-row heaps, never a global sort).
    * Support is both raw occurrences and distinct users — the pair every
    * sequence miner reports, both exact integers.
    */
  def q150SeqPatterns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    t(s, dir, "events")
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("t2", lead($"event_type", 1).over(w))
      .withColumn("t3", lead($"event_type", 2).over(w))
      .filter($"t2".isNotNull && $"t3".isNotNull)
      .select($"user_id",
        concat_ws(">", $"event_type", $"t2", $"t3").as("trigram"))
      .groupBy($"trigram")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct($"user_id").as("n_users"))
      .orderBy($"n_occurrences".desc, $"trigram".asc)
      .limit(15)
  }

  private val q150Sql =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lead(event_type, 1) OVER w AS t2,
      |    lead(event_type, 2) OVER w AS t3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |tri AS (
      |  SELECT user_id, event_type || '>' || t2 || '>' || t3 AS trigram
      |  FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL)
      |SELECT trigram, CAST(count(*) AS BIGINT) AS n_occurrences,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM tri
      |GROUP BY trigram
      |ORDER BY n_occurrences DESC, trigram ASC
      |LIMIT 15""".stripMargin

  private val DpEpsilon = 0.5

  /** q151: differentially-private-style noisy count release — the
    * privacy-preserving aggregate a data clearinghouse publishes instead
    * of exact cohort sizes: per-segment counts + Laplace(1/ε) noise
    * (sensitivity 1 for a count), ε = 0.5. The Laplace draw uses the
    * registry's no-RNG contract (q50/q90): the uniform comes from the
    * first 8 md5 hex digits of a seeded key, inverse-CDF'd to
    * −b·sign(u−½)·ln(1−2|u−½|) — so the release is REPRODUCIBLE (same
    * seed → same noise, the property a published statistic needs for
    * audits) and the oracle recomputes it bit-for-bit. Honestly stated:
    * a fixed public seed forfeits the formal DP guarantee (the noise is
    * deterministic); the operator demonstrates the RELEASE MECHANISM —
    * calibrated noise, bounded-error flags at δ=1e-6 — which at
    * production would draw from a sealed seed store. Scale: one keyed
    * aggregation; noise is arithmetic on the domain-sized result.
    */
  def q151DpCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = 1.0 / DpEpsilon
    // bound = b·ln(1/(2δ)) at δ=1e-6: |noise| exceeds it w.p. 2δ
    val bound = b * math.log(1.0 / (2e-6))
    val h = conv(substring(md5(concat(lit("dp1:"), $"c_mktsegment")), 1, 8),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    val uc = u - lit(0.5)
    val noise = lit(-b) * signum(uc) * log(lit(1.0) - lit(2.0) * abs(uc))
    t(s, dir, "customer")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_exact"))
      .select($"c_mktsegment", $"n_exact",
        round($"n_exact" + noise, 3).as("n_noisy"),
        lit(DpEpsilon).as("epsilon"),
        (abs(noise) <= bound).as("within_bound"))
      .orderBy($"c_mktsegment")
  }

  private val q151Sql =
    s"""WITH c AS (
       |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM customer GROUP BY 1),
       |n AS (
       |  SELECT *,
       |    (('0x' || substr(md5('dp1:' || c_mktsegment), 1, 8))::BIGINT + 0.5e0)
       |      / 4294967296e0 - 0.5e0 AS uc
       |  FROM c),
       |d AS (
       |  SELECT c_mktsegment, n_exact,
       |    -${1.0 / DpEpsilon} * sign(uc) * ln(1e0 - 2e0 * abs(uc)) AS noise
       |  FROM n)
       |SELECT c_mktsegment, n_exact,
       |  round(n_exact + noise, 3) AS n_noisy,
       |  ${DpEpsilon}e0 AS epsilon,
       |  abs(noise) <= ${1.0 / DpEpsilon} * ln(1e0 / 2e-6) AS within_bound
       |FROM d
       |ORDER BY c_mktsegment""".stripMargin

  /** q154: Shapley-value attribution — the game-theoretic completion of
    * the attribution family (q79 last-touch, q106 linear, q148 Markov):
    * each channel's credit is its average marginal contribution to
    * conversion over all channel coalitions (Shapley 1953; the Zhao et
    * al. 2018 simplified estimator — coalition value v(S) = observed
    * conversion rate of users whose pre-conversion touch set is EXACTLY
    * S, unobserved coalitions v = 0, a stated modeling choice). The
    * corpus-scale work is ONE keyed pass: per user, the first-purchase
    * cut, the distinct touched channels before it, a bitmask via
    * sum-of-distinct-powers, and a (mask → users, conversions) rollup.
    * Everything after — the 2ⁿ mask spine, factorial weights
    * s!(n−1−s)!/n!, the S vs S∪{c} pairing — is arithmetic on a
    * 16-row table. No windows: channel indexes come from a
    * smaller-than self-join count over the 4-row channel domain, and n
    * rides a 1-row broadcast attach. Exact until the final divisions:
    * masks, counts and factorials are integers; round(…,6) seals the
    * two float steps.
    */
  def q154ShapleyAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Journey = (user, week): with this stream's density a whole-history
    // journey converts ~always (v ≡ 1, Shapley ≡ 0 — measured, not
    // guessed); the week window is the standard journey-scoping move
    // and yields coalition values spanning 0.70–1.00.
    val ev = t(s, dir, "events")
      .select($"user_id", date_trunc("week", $"ts").as("wk"),
        $"event_type", $"ts")
    val firstP = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"wk").agg(min($"ts").as("pts"))
    val journeys = ev.select($"user_id", $"wk").distinct()
      .join(firstP, Seq("user_id", "wk"), "left")
      .select($"user_id", $"wk", $"pts", $"pts".isNotNull.as("converted"))
    // channel index = |{channels alphabetically smaller}| (no window)
    val chans = ev.select($"event_type").distinct()
      .filter($"event_type" =!= "purchase")
    val chanIdx = chans.as("a")
      .join(chans.as("b"), $"b.event_type" < $"a.event_type", "left")
      .groupBy($"a.event_type")
      .agg(count($"b.event_type").cast("int").as("idx"))
      .select($"event_type", $"idx", expr("cast(shiftleft(1, idx) as bigint)").as("pw"))
    val touched = ev.filter($"event_type" =!= "purchase")
      .join(journeys, Seq("user_id", "wk"))
      .filter($"pts".isNull || $"ts" < $"pts")
      .select($"user_id", $"wk", $"event_type").distinct()
      .join(broadcast(chanIdx), Seq("event_type"))
      .groupBy($"user_id", $"wk").agg(sum($"pw").as("mask0"))
    val coal = journeys.join(touched, Seq("user_id", "wk"), "left")
      .select(coalesce($"mask0", lit(0L)).as("mask"), $"converted")
      .groupBy($"mask")
      .agg(count(lit(1)).as("n_users"),
        sum(when($"converted", 1L).otherwise(0L)).as("n_conv"))
    val nch = chans.agg(count(lit(1)).cast("int").as("nch"))
    val spine = nch.select($"nch",
        explode(sequence(lit(0), expr("shiftleft(1, nch)") - 1)).as("mask"))
      .join(coal, Seq("mask"), "left")
      .select($"nch", $"mask",
        (coalesce($"n_conv", lit(0L)).cast("double") /
          when(coalesce($"n_users", lit(0L)) > 0, $"n_users")).as("v"))
      .select($"nch", $"mask", coalesce($"v", lit(0.0)).as("v"))
    // pair S (c not in S) with S u {c}; phi_c = sum w(|S|)(v(S u c) - v(S))
    val pairs = chanIdx.crossJoin(broadcast(nch))
      .join(spine.select($"mask".as("s_mask"), $"v".as("v_s")),
        ($"s_mask".bitwiseAND($"pw")) === 0)
      .join(spine.select($"mask".as("t_mask"), $"v".as("v_t")),
        $"t_mask" === ($"s_mask".bitwiseOR($"pw")))
      .select($"event_type", $"nch",
        bit_count($"s_mask").as("ssize"), $"v_s", $"v_t")
    pairs
      .select($"event_type",
        (factorial($"ssize").cast("double") *
          factorial($"nch" - 1 - $"ssize") /
          factorial($"nch") * ($"v_t" - $"v_s")).as("contrib"))
      .groupBy($"event_type")
      .agg(round(sum($"contrib"), 6).as("shapley"))
      .select($"event_type".as("channel"), $"shapley")
      .orderBy($"channel")
  }

  private val q154Sql =
    """WITH ev AS (SELECT user_id, date_trunc('week', ts) AS wk, event_type, ts
      |           FROM events),
      |firstp AS (
      |  SELECT user_id, wk, min(ts) AS pts FROM ev
      |  WHERE event_type = 'purchase' GROUP BY 1, 2),
      |journeys AS (
      |  SELECT j.user_id, j.wk, pts, pts IS NOT NULL AS converted
      |  FROM (SELECT DISTINCT user_id, wk FROM ev) j
      |  LEFT JOIN firstp USING (user_id, wk)),
      |chans AS (
      |  SELECT DISTINCT event_type FROM ev WHERE event_type <> 'purchase'),
      |chanidx AS (
      |  SELECT a.event_type,
      |    CAST(count(b.event_type) AS INTEGER) AS idx,
      |    CAST(1 << CAST(count(b.event_type) AS INTEGER) AS BIGINT) AS pw
      |  FROM chans a LEFT JOIN chans b ON b.event_type < a.event_type
      |  GROUP BY a.event_type),
      |touched AS (
      |  SELECT user_id, wk, CAST(sum(pw) AS BIGINT) AS mask0
      |  FROM (
      |    SELECT DISTINCT ev.user_id, ev.wk, ev.event_type
      |    FROM ev JOIN journeys USING (user_id, wk)
      |    WHERE ev.event_type <> 'purchase'
      |      AND (pts IS NULL OR ts < pts)) t
      |  JOIN chanidx USING (event_type)
      |  GROUP BY 1, 2),
      |coal AS (
      |  SELECT COALESCE(mask0, 0) AS mask,
      |    CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
      |  FROM journeys LEFT JOIN touched USING (user_id, wk)
      |  GROUP BY 1),
      |nch AS (SELECT CAST(count(*) AS INTEGER) AS nch FROM chans),
      |spine AS (
      |  SELECT nch, CAST(m.mask AS BIGINT) AS mask,
      |    COALESCE(CASE WHEN COALESCE(n_users, 0) > 0
      |      THEN CAST(COALESCE(n_conv, 0) AS DOUBLE) / n_users END, 0e0) AS v
      |  FROM nch, (SELECT unnest(range(0, (1 << (SELECT nch FROM nch)))) AS mask) m
      |  LEFT JOIN coal USING (mask)),
      |pairs AS (
      |  SELECT c.event_type, s.nch,
      |    bit_count(s.mask) AS ssize, s.v AS v_s, t.v AS v_t
      |  FROM chanidx c
      |  CROSS JOIN nch n
      |  JOIN spine s ON (s.mask & c.pw) = 0
      |  JOIN spine t ON t.mask = (s.mask | c.pw))
      |SELECT event_type AS channel,
      |  round(sum(CAST(factorial(ssize) AS DOUBLE) * factorial(nch - 1 - ssize)
      |    / factorial(nch) * (v_t - v_s)), 6) AS shapley
      |FROM pairs
      |GROUP BY 1
      |ORDER BY channel""".stripMargin

  // ---------------------------------------------------------------- q217

  /** q217: arbitrary GROUPING SETS — the general form q31 (rollup) and
    * q41 (cube) are special cases of: a hand-picked set list that
    * NEITHER a rollup chain nor a cube lattice produces — the detail
    * level (status, prio-class), one rollup arm (status), an
    * ORTHOGONAL dimension (order year) that shares no prefix with the
    * others, and the grand total. This is the report-workbook shape
    * (several unrelated summary panels off one scan) and, like
    * rollup/cube, it costs ONE shuffle: Spark expands the grouping-set
    * lattice map-side (the Expand operator), so four panels never
    * means four scans. Per-column grouping() flags disambiguate the
    * NULL semantics (a NULL key value vs "aggregated over").
    */
  def q217GroupingSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .withColumn("prio", substring($"o_orderpriority", 1, 1))
      .withColumn("yr", year($"o_orderdate").cast("int"))
      .groupingSets(
        Seq(Seq($"o_orderstatus", $"prio"), Seq($"o_orderstatus"),
          Seq($"yr"), Seq()),
        $"o_orderstatus", $"prio", $"yr")
      .agg(count(lit(1)).as("n"), exactSum2($"o_totalprice").as("revenue"),
        grouping($"o_orderstatus").cast("int").as("g_status"),
        grouping($"prio").cast("int").as("g_prio"),
        grouping($"yr").cast("int").as("g_yr"))
      .orderBy($"g_status", $"g_prio", $"g_yr",
        $"o_orderstatus", $"prio", $"yr")
  }

  private val q217Sql =
    """SELECT o_orderstatus, prio, yr, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(grouping(prio) AS INTEGER) AS g_prio,
      |  CAST(grouping(yr) AS INTEGER) AS g_yr
      |FROM (SELECT o_orderstatus, substring(o_orderpriority, 1, 1) AS prio,
      |        CAST(year(o_orderdate) AS INTEGER) AS yr, o_totalprice
      |      FROM orders)
      |GROUP BY GROUPING SETS ((o_orderstatus, prio), (o_orderstatus),
      |  (yr), ())
      |ORDER BY g_status, g_prio, g_yr, o_orderstatus, prio, yr""".stripMargin

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q217_grouping_sets", Seq("EXT-cube", "A2"),
      "arbitrary GROUPING SETS: four unrelated report panels in one Expand-lattice shuffle, per-column grouping flags",
      q217GroupingSets, Some(q217Sql)),
    GraftQuery("q154_shapley_attribution", Seq("EXT-window", "A2", "J1"),
      "exact Shapley channel attribution over coalition bitmasks: one keyed pass, 16-row coalition algebra",
      q154ShapleyAttribution, Some(q154Sql)),
    GraftQuery("q150_seq_patterns", Seq("EXT-window", "A2", "EXT-text"),
      "frequent event-type trigram mining: window candidate generation, TakeOrdered top-15 by support",
      q150SeqPatterns, Some(q150Sql)),
    GraftQuery("q151_dp_counts", Seq("A2", "EXT-anonymize"),
      "seeded Laplace noisy-count release: inverse-CDF noise from md5 uniforms, bounded-error flags",
      q151DpCounts, Some(q151Sql)),
    GraftQuery("q148_markov_attribution", Seq("EXT-window", "EXT-graph", "A2"),
      "Markov removal-effect attribution: absorbing-chain steps over channel-removal variants, bounded state tables",
      q148MarkovAttribution, Some(q148Sql)),
    GraftQuery("q85_robust_outliers", Seq("EXT-percentile", "P6"),
      "median/MAD modified z-score outliers (robust to the tails it hunts)",
      q85RobustOutliers, Some(q85Sql)),
    GraftQuery("q86_transition_matrix", Seq("EXT-window", "A2"),
      "first-order event-type transition matrix per user stream",
      q86TransitionMatrix, Some(q86Sql)),
    GraftQuery("q79_attribution", Seq("EXT-window", "W1"),
      "last-touch attribution: ignore-nulls carry-forward, 7-day lookback",
      q79Attribution, Some(q79Sql)),
    GraftQuery("q77_drift_detect", Seq("EXT-histogram", "A2"),
      "chi-square histogram drift between ingestion windows (libm-free)",
      q77DriftDetect, Some(q77Sql)),
    GraftQuery("q69_bloom_prune_join", Seq("J1", "EXT-approx"),
      "bloom-filter scan-side prune + exact semi-join == plain semi-join",
      q69BloomPruneJoin, Some(q69Sql)),
    GraftQuery("q71_rolling_features", Seq("EXT-window", "A3"),
      "per-user trailing 7-day RANGE-frame activity features",
      q71RollingFeatures, Some(q71Sql)),
    GraftQuery("q72_equidepth_deciles", Seq("EXT-histogram", "EXT-percentile"),
      "exact equi-depth deciles via total-ordered ntile",
      q72EquidepthDeciles, Some(q72Sql)),
    GraftQuery("q73_burst_dedup", Seq("W1", "EXT-dedup"),
      "300s session-gap burst dedup: first event kept + suppressed count",
      q73BurstDedup, Some(q73Sql)),
    GraftQuery("q49_anonymize", Seq("EXT-anonymize", "F12"),
      "PII pseudonymize + generalize + k-anonymity suppression",
      q49Anonymize, Some(q49Sql)),
    GraftQuery("q50_hash_split", Seq("EXT-split"),
      "deterministic hash-based train/val/test split", q50HashSplit, Some(q50Sql)),
    GraftQuery("q41_cube", Seq("EXT-cube"),
      "full cube with grouping flags", q41Cube, Some(q41Sql)),
    GraftQuery("q42_quantize_embeddings", Seq("EXT-similarity"),
      "deterministic int8 embedding quantization stats", q42QuantizeEmbeddings, Some(q42Sql)),
    GraftQuery("q37_percentiles", Seq("EXT-percentile"),
      "exact interpolated quartiles per group", q37Percentiles, Some(q37Sql)),
    GraftQuery("q66_winsorize", Seq("EXT-percentile", "J1"),
      "per-group winsorization: values clipped to the [p05, p95] band",
      q66Winsorize, Some(q66Sql)),
    GraftQuery("q68_approx_quantiles", Seq("EXT-percentile", "EXT-approx"),
      "GK-sketch quantiles within 5% of exact (empty = pass)",
      q68ApproxQuantiles, Some(q68Sql)),
    GraftQuery("q38_histogram", Seq("EXT-histogram"),
      "fixed-width histogram via floor binning", q38Histogram, Some(q38Sql)),
    GraftQuery("q39_pivot", Seq("EXT-pivot"),
      "pivot to one column per event type", q39Pivot, Some(q39Sql)),
    GraftQuery("q34_salted_agg", Seq("EXT-skew"),
      "two-phase salted aggregation == plain GROUP BY", q34SaltedAgg, Some(q34Sql)),
    GraftQuery("q57_skew_salted_join", Seq("EXT-skew", "J1"),
      "salted join vs a key holding 50% of the fact side == plain join",
      q57SkewSaltedJoin, Some(q57Sql)),
    GraftQuery("q30_set_ops", Seq("EXT-setops"),
      "intersect/except/union cohort analysis", q30SetOps, Some(q30Sql)),
    GraftQuery("q31_rollup", Seq("EXT-rollup"),
      "hierarchical rollup with grouping flags", q31Rollup, Some(q31Sql)),
    GraftQuery("q32_approx_distinct", Seq("EXT-approx"),
      "HLL approx distinct within 5% of exact (empty = pass)", q32ApproxDistinct, Some(q32Sql)),
    GraftQuery("q33_variant_json", Seq("F1", "EXT-variant"),
      "Spark 4 VARIANT parse + path extraction", q33VariantJson, Some(q33Sql)))
}
