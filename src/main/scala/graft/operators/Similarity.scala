package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{GraftQuery, Tables}

/** Similarity search over the embedding column (Array[Float], dim 64) —
  * the north-star ANN extension (BASELINE.json). Brute-force cosine is the
  * correctness baseline; label-blocked search is the IVF-shaped scale
  * path (probe only the partition a vector routes to).
  *
  * Numeric determinism: dot products fold left-to-right over the array
  * (`aggregate` over `zip_with`), after a float→double widening that is
  * exact by IEEE-754 — so per-pair similarity is bit-identical in any
  * engine that evaluates the same sequential fold; ties in top-k are
  * broken on rounded similarity then id.
  */
object Similarity {

  private def t(s: SparkSession, dir: String, n: String) = Tables.loadSpread(s, dir, n)

  private def d(c: Column): Column = transform(c, x => x.cast("double"))

  /** Sequential-fold dot product of two double arrays — a native codegen'd
    * Expression (NativeExpressions.DotProduct), bit-identical to the
    * `aggregate(zip_with(...))` formulation it replaced but ~7x faster (the
    * higher-order builtins are CodegenFallback with per-element dispatch).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** q21: embedding near-dup pairs, blocked by label (IVF-style cell
    * restriction: |cell|² pairs instead of |all|²). Cosine rounded to 6
    * digits to absorb the one non-guaranteed bit of cross-engine libm
    * sqrt; pairs above 0.35 survive (the synthetic embeddings top out near 0.47 intra-label).
    */
  def q21EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Norms are computed once per vector BEFORE the pairwise join (O(n)
    // instead of O(pairs) sqrt-folds) — same arithmetic as
    // dot/(sqrt(aa)*sqrt(bb)), so oracle-identical.
    val e = t(s, dir, "embeddings")
      .select($"vec_id", $"label", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val a = e.select($"vec_id".as("vec_a"), $"label", $"v".as("va"), $"nrm".as("nrm_a"))
    val b = e.select($"vec_id".as("vec_b"), $"label", $"v".as("vb"), $"nrm".as("nrm_b"))
    a.join(b, Seq("label"))
      .filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b", $"label",
        round(dot($"va", $"vb") / ($"nrm_a" * $"nrm_b"), 6).as("cos_sim"))
      .filter($"cos_sim" >= 0.35)
      .orderBy($"vec_a", $"vec_b")
  }

  private val q21Sql =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
      |  round(list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
      |ORDER BY vec_a, vec_b""".stripMargin

  /** q22: brute-force cosine top-k (k=5) for the query subset
    * vec_id % 100 = 0 — the exact-answer baseline every ANN variant is
    * judged against. Rank by rounded similarity with id tiebreak so the
    * top-k set is engine-independent.
    */
  def q22AnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val q = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos_sim".desc, $"neighbor_id".asc)
    q.crossJoin(e.select($"vec_id".as("neighbor_id"), $"v", $"nrm"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        round(dot($"qv", $"v") / ($"qnrm" * $"nrm"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .orderBy($"query_id", $"rank")
  }

  private val q22Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    round(list_dot_product(qv, v) /
      |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos_sim
      |  FROM q CROSS JOIN e
      |  WHERE query_id <> e.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, cos_sim, rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  val NumPlanes = 64
  val LshBands = 8 // 8 bands of 8 signature bits -> 256 buckets per band

  /** q29: random-hyperplane LSH ANN — the 100 TB path: vectors sharing
    * any 8-bit signature band become candidates (join on band buckets,
    * cost ∝ collisions, never |vecs|²); exact cosine then verifies, same
    * 0.35 threshold as q21 so recall is directly comparable. Signature
    * computed by a one-pass custom Expression with md5-derived
    * deterministic hyperplanes (see NativeExpressions.CosineLshSignature).
    *
    * Geometry: 64 planes as 8 bands × 8 bits. A random (non-near) pair
    * collides on a given 8-bit band with p = 2⁻⁸, so expected candidates
    * ≈ pairs · 8/256 ≈ 3% of all pairs (vs 25% for the earlier 4-bit
    * bands — 16 buckets can never separate n ≫ 16 vectors). Measured at
    * sf0.1 (2,000 vectors, 2.0M unordered pairs): 73k candidate pairs =
    * 3.7%, matching theory; on real (clustered, non-uniform) corpora the
    * near-pair mass concentrates further. Widening bands is the knob:
    * +1 bit halves candidates, ~×0.61 recall per band at sim 0.35.
    */
  def q29AnnLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.NativeExpressions.cosineLshSignature
    val e = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
      .withColumn("sig", cosineLshSignature($"v", NumPlanes))
      .persist()
    val bandBits = NumPlanes / LshBands
    val bands = e.select($"vec_id",
        posexplode(array((0 until LshBands).map(k =>
          shiftrightunsigned($"sig", k * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select($"vec_id".as("vec_a"), $"v".as("va"), $"nrm".as("nrm_a")), "vec_a")
      .join(e.select($"vec_id".as("vec_b"), $"v".as("vb"), $"nrm".as("nrm_b")), "vec_b")
      .select($"vec_a", $"vec_b",
        round(dot($"va", $"vb") / ($"nrm_a" * $"nrm_b"), 6).as("cos_sim"))
      .filter($"cos_sim" >= 0.35)
      .orderBy($"vec_a", $"vec_b")
  }

  private val q29Sql = {
    val bandBits = NumPlanes / LshBands
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |planes AS (
      |  SELECT p, list_transform(range(0, 64),
      |    d -> CASE WHEN (strpos('0123456789abcdef',
      |           substring(md5(p || ':' || d), 1, 1)) - 1) % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) AS coefs
      |  FROM range(0, $NumPlanes) t(p)),
      |bands AS (
      |  SELECT vec_id, p // $bandBits AS band,
      |    CAST(sum(CASE WHEN list_dot_product(coefs, v) > 0
      |        THEN CAST(pow(2, p % $bandBits) AS BIGINT) ELSE 0 END) AS BIGINT) AS bkey
      |  FROM e CROSS JOIN planes
      |  GROUP BY vec_id, p // $bandBits),
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
      |SELECT vec_a, vec_b,
      |  round(list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
      |FROM cand
      |JOIN e a ON a.vec_id = vec_a
      |JOIN e b ON b.vec_id = vec_b
      |WHERE round(list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
      |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ---- Bounded-k IVF coarse codebook ------------------------------------
  // k = min(IvfK, ceil(sqrt(n))): √n scaling — the standard IVF cell
  // geometry, keeping per-cell occupancy ~√n so cell-local pairing never
  // goes quadratic — under a FIXED ceiling that bounds the broadcast
  // (4096 × 64 doubles ≈ 2 MB) at any corpus size. The √n term governs
  // through n = 16M vectors; the gate-scale corpora (n ≤ 2000) sit far
  // below the ceiling, so raising it from round 6's 64 changed nothing
  // at the tested SFs.
  val IvfK = 4096
  // Lloyd training-sample size = 8 × IvfK (md5-ranked TakeOrdered — a
  // bounded per-task heap, never a global sort); corpora smaller than
  // the sample train on everything.
  val IvfSampleN = 8 * IvfK
  private val IvfDim = 64      // embedding dimensionality
  private val IvfQuant = 1e6   // exact-integer centroid-mean quantum (= KmQuant)

  /** Bounded-k IVF coarse codebook trained by 2 deterministic Lloyd
    * rounds over a BOUNDED sample — the replacement for the
    * data-proportional `vec_id % 100` seeding (k = n/100) that made
    * centroid scoring O(n²/100) with a broadcast that grew with the
    * corpus. Here k ≤ [[IvfK]] regardless of n: the training sample is
    * the [[IvfSampleN]] smallest-md5(salt:vec_id) vectors
    * (`orderBy().limit()` → TakeOrdered, each task keeps an
    * ≤IvfSampleN-row heap — never a global sort),
    * seeds are the sample's first k = min([[IvfK]], ⌈√n⌉) in the same
    * md5 order (√n-capped below the fixed ceiling so tiny corpora don't
    * shatter into singleton cells; k is BOUNDED by IvfK at any n), and
    * each Lloyd round is a sample×k scoring pass plus a (cid, dim)-keyed
    * EXACT-INTEGER mean (the q91 trick: floor(x·1e6) summed as BIGINT,
    * one final double divide — bit-identical cross-engine, no
    * float-summation-order dependence). Downstream routing is O(n·k)
    * against a ≤[[IvfK]]-row broadcast — bounded at any corpus size.
    * The salt decorrelates codebooks (q45 trains on "a"; q53/q54/q60/
    * q137 share "b") so the recall harness measures seed sensitivity
    * rather than a shared artifact. Returns (centroid_id, cv, cnrm).
    */
  def ivfCodebook(s: SparkSession, dir: String, salt: String): DataFrame = {
    import s.implicits._
    ivfCodebookOf(s,
      t(s, dir, "embeddings").select($"vec_id", d($"embedding").as("v")),
      salt)
  }

  /** [[ivfCodebook]] over an explicit (vec_id, v) source — the seam the
    * incremental-index contract needs: q161 trains on the BASE corpus
    * only and routes later deltas against the frozen result.
    */
  def ivfCodebookOf(s: SparkSession, ev: DataFrame, salt: String): DataFrame = {
    import s.implicits._
    val samp = ev
      .withColumn("mk", md5(concat(lit(salt + ":"), $"vec_id".cast("string"))))
      .orderBy($"mk", $"vec_id").limit(IvfSampleN)
      .persist()
    // k = min(IvfK, ceil(sqrt(n))): √n-capped below the fixed ceiling, so
    // tiny corpora don't degenerate into singleton cells while k stays
    // BOUNDED at IvfK for any corpus ≥ IvfK² vectors. Attached as a
    // broadcast 1-row aggregate (the scalar-attach idiom) — no driver
    // collect.
    val kTab = ev
      .agg(least(lit(IvfK.toLong),
        greatest(lit(1L), ceil(sqrt(count(lit(1)))))).cast("int").as("k"))
    // the rank window runs over the IvfK survivors of the limit, never
    // the corpus (same shape as pqCodebook's anchor pick)
    val wSeed = Window.orderBy($"mk", $"vec_id")
    val seeds = samp.orderBy($"mk", $"vec_id").limit(IvfK)
      .withColumn("centroid_id", row_number().over(wSeed) - 1)
      .crossJoin(broadcast(kTab))
      .filter($"centroid_id" < $"k")
      .select($"centroid_id", $"v".as("cv"))

    // SPHERICAL assignment — max cosine, the same metric the IVF router
    // uses downstream (L2 assignment against unnormalized vectors routes
    // by magnitude and shreds cosine neighborhoods). Argmax as a
    // lexicographic struct-min on (1 − csim, cid): partial-aggregates
    // map-side; equals rank-1 of ORDER BY csim DESC, cid ASC (1−x is
    // strictly monotone and collision-free at round-6 granularity).
    def assign(cent: DataFrame): DataFrame =
      samp.crossJoin(broadcast(cent))
        .select($"vec_id", $"centroid_id",
          (lit(1.0) - round(dot($"v", $"cv") / (norm($"v") * norm($"cv")), 6))
            .as("dc"))
        .groupBy($"vec_id").agg(min(struct($"dc", $"centroid_id")).as("m"))
        .select($"vec_id", $"m.centroid_id".as("centroid_id"))

    def update(assigned: DataFrame): DataFrame =
      assigned.join(samp, Seq("vec_id"))
        .select($"centroid_id", posexplode($"v"))
        .groupBy($"centroid_id", $"pos")
        .agg((sum(floor($"col" * IvfQuant).cast("long")).cast("double") /
          (count(lit(1)) * IvfQuant)).as("m"))
        .groupBy($"centroid_id")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          x => x("m")).as("cv"))

    val cb = update(assign(update(assign(seeds))))
      .withColumn("cnrm", norm($"cv"))
      // ≤ IvfK rows: materialize once, truncate the Lloyd lineage so the
      // downstream broadcasts never replay training
      .localCheckpoint()
    samp.unpersist(false)
    cb
  }

  /** q45: IVF ANN with a FIXED-k trained coarse codebook — every vector
    * routes to its max-cosine centroid (rounded to 6 digits, centroid-id
    * tiebreak), then near-dup pairs are found WITHIN cells only. The
    * plumbing is production IVF: broadcast the ≤[[IvfK]]-row codebook
    * ([[ivfCodebook]], salt "a"), one O(n·k) scoring pass, one shuffle
    * on cell id, cell-local pairing. At 100× the data the scoring stays
    * O(n·k) and the broadcast stays 64 rows — the earlier `vec_id % 100`
    * seeding (k = n/100) was O(n²/100) with a data-proportional
    * broadcast, the one asymptotic hazard round 5 flagged.
    */
  def q45IvfAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
      .persist()
    // Build-once/query-many: routing comes from the materialized index
    // ([[AnnIndex]], salt "a", probe depth 1 as a pushed rn filter) —
    // no codebook training or O(n·k) scoring pass inside the query.
    val cells = AnnIndex.cells(s, dir, "a", maxProbes = 1)
      .select($"vec_id", $"cell")
      .join(e, Seq("vec_id"))
    val a = cells.select($"vec_id".as("vec_a"), $"v".as("va"), $"nrm".as("nrm_a"), $"cell")
    val b = cells.select($"vec_id".as("vec_b"), $"v".as("vb"), $"nrm".as("nrm_b"), $"cell")
    a.join(b, Seq("cell"))
      .filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b", $"cell",
        round(dot($"va", $"vb") / ($"nrm_a" * $"nrm_b"), 6).as("cos_sim"))
      .filter($"cos_sim" >= 0.35)
      .orderBy($"vec_a", $"vec_b")
  }

  /** IVF near-dup pairs, parameterized on codebook salt and probe
    * depth — the shared machinery behind q45 (single-probe) and q54
    * (multiprobe), and the knob the q53 recall harness turns. Centroids
    * come from the fixed-k trained codebook ([[ivfCodebook]]); each
    * vector routes to its top-`probes` centroids; pairs form inside any
    * shared cell (DISTINCT over probe combinations), then exact cosine
    * verifies. Plan shape is unchanged from q45: broadcast ≤k centroids,
    * one O(n·k) scoring pass, one shuffle on cell id, cell-local
    * pairing — probe depth p multiplies candidate volume by ~p² but
    * never leaves the cell-local regime.
    */
  def ivfPairs(s: SparkSession, dir: String,
      salt: String, probes: Int): DataFrame =
    ivfPairsDepth(s, dir, salt, probes)
      .drop("probe_depth")

  /** [[ivfPairs]] with the pair's PROBE DEPTH annotated: the smallest
    * probe budget that would have surfaced it — min over shared cells of
    * max(rank_a, rank_b). One routing pass, one pairing, one exact
    * verification serve every probe depth ≤ maxProbes at once (the q53
    * harness reads probe-1 and probe-2 recall from a single run), and
    * the column is the per-pair version of the knob a production index
    * tunes: depth-1 pairs survive any probe setting, depth-2 pairs are
    * what multiprobe buys.
    */
  def ivfPairsDepth(s: SparkSession, dir: String,
      salt: String, maxProbes: Int): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
      .persist()
    // Routing read from the materialized index ([[AnnIndex]]): probe
    // depth is a pushed filter on the persisted rank column, so every
    // depth ≤ AnnIndex.MaxProbes is served by the same artifact.
    val cells = AnnIndex.cells(s, dir, salt, maxProbes)
    // a pair can share up to maxProbes cells — the groupBy both dedups
    // (each candidate scored once) and takes the min depth across them
    val cand = cells.as("ca").join(cells.as("cb"), col("ca.cell") === col("cb.cell") &&
        col("ca.vec_id") < col("cb.vec_id"))
      .select(col("ca.vec_id").as("vec_a"), col("cb.vec_id").as("vec_b"),
        greatest(col("ca.rn"), col("cb.rn")).as("pd"))
      .groupBy($"vec_a", $"vec_b").agg(min($"pd").as("probe_depth"))
    cand
      .join(e.select($"vec_id".as("vec_a"), $"v".as("va"), $"nrm".as("nrm_a")), "vec_a")
      .join(e.select($"vec_id".as("vec_b"), $"v".as("vb"), $"nrm".as("nrm_b")), "vec_b")
      .select($"vec_a", $"vec_b",
        round(dot($"va", $"vb") / ($"nrm_a" * $"nrm_b"), 6).as("cos_sim"),
        $"probe_depth")
      .filter($"cos_sim" >= 0.35)
      .orderBy($"vec_a", $"vec_b")
  }

  /** q54: IVF multiprobe — each vector probes its top-2 cells, closing
    * the primary recall hole of single-probe IVF (a near pair split by a
    * cell boundary is structurally missed). Centroids come from the
    * salt-"b" trained codebook, a DIFFERENT training run from q45's
    * salt-"a" codebook, so the harness (q53) can separate probe-depth
    * gains from seed luck — and neither codebook coincides with q22's
    * query set (the artifact the old residue-0 seeding had).
    */
  def q54IvfMultiprobe(s: SparkSession, dir: String): DataFrame =
    ivfPairs(s, dir, salt = "b", probes = 2)

  /** DuckDB mirror of [[ivfCodebook]] — emits the CTE chain
    * `samp_$tag → seed_$tag → (assign, update) ×2 → cb_$tag (cid, cv)`.
    * Requires a `dims AS (SELECT unnest(range(1, ${IvfDim + 1})) AS i)`
    * CTE in scope (emitted once per query, shared across tags).
    */
  private[graft] def ivfCbSql(salt: String, tag: String): String = {
    def asgSql(cents: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT sm.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY sm.vec_id
         |        ORDER BY round(list_dot_product(sm.v, c.cv) /
         |          (sqrt(list_dot_product(sm.v, sm.v)) *
         |           sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cid ASC) AS rn
         |    FROM samp_$tag sm CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def updSql(assigned: String, out: String) =
      s"""$out AS (
         |  SELECT cid, list(m ORDER BY i) AS cv FROM (
         |    SELECT a.cid, dims.i,
         |      CAST(sum(CAST(floor(sm.v[dims.i] * ${IvfQuant.toLong}) AS BIGINT))
         |        AS DOUBLE) / (count(*) * ${IvfQuant.toLong}) AS m
         |    FROM $assigned a JOIN samp_$tag sm USING (vec_id)
         |    CROSS JOIN dims
         |    GROUP BY a.cid, dims.i)
         |  GROUP BY cid)""".stripMargin
    s"""samp_$tag AS (
       |  SELECT vec_id, v, md5('$salt:' || vec_id) AS mk FROM e
       |  ORDER BY mk, vec_id LIMIT $IvfSampleN),
       |kk_$tag AS (
       |  SELECT CAST(least($IvfK, greatest(1, ceil(sqrt(count(*))))) AS INT) AS k
       |  FROM e),
       |seed_$tag AS (
       |  SELECT cid, cv FROM (
       |    SELECT row_number() OVER (ORDER BY mk, vec_id) - 1 AS cid, v AS cv
       |    FROM (SELECT * FROM samp_$tag ORDER BY mk, vec_id LIMIT $IvfK))
       |  CROSS JOIN kk_$tag WHERE cid < k),
       |${asgSql(s"seed_$tag", s"asg1_$tag")},
       |${updSql(s"asg1_$tag", s"cen1_$tag")},
       |${asgSql(s"cen1_$tag", s"asg2_$tag")},
       |${updSql(s"asg2_$tag", s"cb_$tag")}""".stripMargin
  }

  /** Shared oracle routing chain for the parameterized IVF (DuckDB):
    * cosine-routes the corpus against `cb_$tag` and emits verified
    * near-dup pairs as `$outName`. [[ivfCbSql]] for the tag must be in
    * scope.
    */
  private def ivfSql(tag: String, probes: Int, outName: String): String =
    s"""iv_scored$outName AS (
      |  SELECT e.vec_id, c.cid,
      |    round(list_dot_product(v, cv) /
      |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
      |  FROM e CROSS JOIN cb_$tag c),
      |iv_cells$outName AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY csim DESC, cid ASC) AS rn
      |    FROM iv_scored$outName) WHERE rn <= $probes),
      |iv_cand$outName AS (
      |  SELECT DISTINCT ca.vec_id AS vec_a, cb2.vec_id AS vec_b
      |  FROM iv_cells$outName ca JOIN iv_cells$outName cb2
      |    ON ca.cell = cb2.cell AND ca.vec_id < cb2.vec_id),
      |$outName AS (
      |  SELECT vec_a, vec_b,
      |    round(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
      |  FROM iv_cand$outName
      |  JOIN e a ON a.vec_id = vec_a
      |  JOIN e b ON b.vec_id = vec_b
      |  WHERE round(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35)""".stripMargin

  private[graft] def ivfDimsSql: String =
    s"dims AS (SELECT unnest(range(1, ${IvfDim + 1})) AS i)"

  private def q54Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$ivfDimsSql,
      |${ivfCbSql("b", "b")},
      |${ivfSql("b", 2, "out54")}
      |SELECT vec_a, vec_b, cos_sim FROM out54
      |ORDER BY vec_a, vec_b""".stripMargin

  private def q45Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$ivfDimsSql,
      |${ivfCbSql("a", "a")},
      |scored AS (
      |  SELECT e.vec_id, c.cid,
      |    round(list_dot_product(v, cv) /
      |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
      |  FROM e CROSS JOIN cb_a c),
      |cells AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY csim DESC, cid ASC) AS rn
      |    FROM scored) WHERE rn = 1)
      |SELECT ca.vec_id AS vec_a, cb2.vec_id AS vec_b, ca.cell,
      |  round(list_dot_product(ea.v, eb.v) /
      |    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos_sim
      |FROM cells ca JOIN cells cb2 ON ca.cell = cb2.cell AND ca.vec_id < cb2.vec_id
      |JOIN e ea ON ea.vec_id = ca.vec_id
      |JOIN e eb ON eb.vec_id = cb2.vec_id
      |WHERE round(list_dot_product(ea.v, eb.v) /
      |    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) >= 0.35
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Ground-truth query budget for the recall harness (q53): the
    * exact-truth side scores only the [[AnnTruthQueryCap]] smallest-
    * md5(vec_id) queries of the `% 100` subset, so its cost is
    * O(cap · n) at ANY corpus size — a recall ESTIMATE never needed the
    * query set to scale with the corpus, but the old q22-derived truth
    * did exactly that (queries ∝ n ⇒ truth pairs ∝ n²/100, the round-8
    * scale-smoke's 6.7× at 10× data). At the gate SFs (5 and 20
    * queries) the cap does not bind, so outputs — and the locked recall
    * floors — are unchanged.
    */
  val AnnTruthQueryCap = 32

  /** q53: ANN recall harness — the number every geometry knob (band
    * width, probe depth, centroid count) is tuned against. Ground truth
    * is brute-force cosine top-5 (q22's pipeline) over a FIXED-SIZE
    * md5-ranked query sample ([[AnnTruthQueryCap]]), restricted to the
    * ≥0.35 near-dup regime (the set the ANN variants are contractually
    * after); each method's verified pairs are joined against it and
    * recall@5 emitted per method — with every method arm generating
    * candidates from the QUERY side only (a pair not touching a sampled
    * query can never be a hit), so the whole gauge is O(cap · n) at any
    * corpus size while reporting bit-identical recall to the corpus-wide
    * formulation the DuckDB oracle still runs. The q54 probe-1 twin is
    * included so
    * the multiprobe delta is measured like-for-like (same trained
    * codebook): with the fixed-k Lloyd codebooks neither centroid set
    * coincides with the query set, so every number is honest routing
    * quality (the old residue-0 seeding made q45's recall 1.0 by
    * construction — every query was the center of its own cell).
    */
  def q53AnnRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
      .persist()
    // orderBy().limit() → TakeOrdered: each task keeps a cap-sized
    // heap; the sampled query set then broadcasts into the truth scan
    val qset = e.filter($"vec_id" % 100 === 0)
      .withColumn("mk", md5($"vec_id".cast("string")))
      .orderBy($"mk", $"vec_id").limit(AnnTruthQueryCap)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"))
    val wbf = Window.partitionBy($"query_id")
      .orderBy($"cos_sim".desc, $"neighbor_id".asc)
    val truth = broadcast(qset)
      .crossJoin(e.select($"vec_id".as("neighbor_id"), $"v", $"nrm"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        round(dot($"qv", $"v") / ($"qnrm" * $"nrm"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(wbf))
      .filter($"rank" <= 5 && $"cos_sim" >= 0.35)
      .select(least($"query_id", $"neighbor_id").as("vec_a"),
        greatest($"query_id", $"neighbor_id").as("vec_b"))
      .distinct()
      .persist()
    // The method arms are QUERY-RESTRICTED twins of q29/q45/q54: a
    // method pair can only score a hit if it touches a sampled query
    // (truth contains nothing else), so generating candidates from the
    // query side — sampled queries' cells/bands joined against the full
    // cells/bands tables — yields IDENTICAL hit counts at
    // O(cap · probes · occupancy) candidate cost instead of
    // materializing each method's full corpus-wide pair set
    // (cell self-joins are O(n²/k) = O(n^1.5) at k=√n — fine as the
    // OPERATOR output in q45/q54, pure waste inside a recall gauge;
    // the round-8 smoke's q53 blowup at 10× data was exactly this, the
    // depth-4 arm's pair volume, not the truth side it was blamed on).
    val qIds = qset.select($"query_id".as("vec_id"))
    def verified(cand: DataFrame): DataFrame = cand
      .join(e.select($"vec_id".as("vec_a"), $"v".as("va"), $"nrm".as("nrm_a")), "vec_a")
      .join(e.select($"vec_id".as("vec_b"), $"v".as("vb"), $"nrm".as("nrm_b")), "vec_b")
      .withColumn("cos_sim", round(dot($"va", $"vb") / ($"nrm_a" * $"nrm_b"), 6))
      .filter($"cos_sim" >= 0.35)
    // one depth-annotated IVF run serves every probe setting ≤ 4: a
    // pair's probe_depth is the smallest budget that surfaces it, so
    // depth-k filters reproduce a probes=k run exactly. probe-4 is the
    // PRODUCTION setting (recall@5 ≥ 0.8 at sf0.01, AnnRecallSpec
    // floor); probe-1/2 stay reported so the depth-recall curve — the
    // knob's price list — is visible in one output.
    def ivfQueryPairs(salt: String, maxProbes: Int): DataFrame = {
      val cells = AnnIndex.cells(s, dir, salt, maxProbes)
      val qc = cells.join(broadcast(qIds), Seq("vec_id"))
      val cand = qc.as("ca").join(cells.as("cb"),
          col("ca.cell") === col("cb.cell") && col("ca.vec_id") =!= col("cb.vec_id"))
        .select(least(col("ca.vec_id"), col("cb.vec_id")).as("vec_a"),
          greatest(col("ca.vec_id"), col("cb.vec_id")).as("vec_b"),
          greatest(col("ca.rn"), col("cb.rn")).as("pd"))
        .groupBy($"vec_a", $"vec_b").agg(min($"pd").as("probe_depth"))
      verified(cand)
    }
    val ivf = ivfQueryPairs("b", maxProbes = 4).persist()
    val lsh = {
      import graft.functions.NativeExpressions.cosineLshSignature
      val bandBits = NumPlanes / LshBands
      val bands = e
        .withColumn("sig", cosineLshSignature($"v", NumPlanes))
        .select($"vec_id",
          posexplode(array((0 until LshBands).map(k =>
            shiftrightunsigned($"sig", k * bandBits)
              .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
      val qb = bands.join(broadcast(qIds), Seq("vec_id"))
      verified(qb.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.vec_id") =!= col("y.vec_id"))
        .select(least(col("x.vec_id"), col("y.vec_id")).as("vec_a"),
          greatest(col("x.vec_id"), col("y.vec_id")).as("vec_b"))
        .distinct())
    }
    val methods = Seq(
      "q29_ann_lsh" -> lsh,
      "q45_ivf_ann" -> ivfQueryPairs("a", maxProbes = 1),
      "q54_ivf_probe1" -> ivf.filter($"probe_depth" === 1),
      "q54_ivf_multiprobe" -> ivf.filter($"probe_depth" <= 2),
      "q54_ivf_probe4" -> ivf)
    val pairs = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), $"vec_a", $"vec_b")
    }.reduce(_ unionByName _)
    val hits = pairs.join(broadcast(truth), Seq("vec_a", "vec_b"))
      .groupBy($"method").agg(count(lit(1)).as("hits"))
    // literal method list so a 0-hit method still reports (q29 finds no
    // eligible pair at sf0.001)
    val names = methods.map(_._1).toDF("method")
    val elig = truth.agg(count(lit(1)).as("eligible_pairs"))
    names.join(hits, Seq("method"), "left")
      .na.fill(0L, Seq("hits"))
      .crossJoin(elig)
      .select($"method", $"hits", $"eligible_pairs",
        round($"hits".cast("double") / $"eligible_pairs", 4).as("recall_at_5"))
      .orderBy($"method")
  }

  private def q53Sql = {
    val bandBits = NumPlanes / LshBands
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$ivfDimsSql,
      |${ivfCbSql("a", "a")},
      |${ivfCbSql("b", "b")},
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $AnnTruthQueryCap),
      |bf_scored AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    round(list_dot_product(qv, v) /
      |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos_sim
      |  FROM q CROSS JOIN e
      |  WHERE query_id <> e.vec_id),
      |bf_ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      |  FROM bf_scored),
      |truth AS (
      |  SELECT DISTINCT least(query_id, neighbor_id) AS vec_a,
      |    greatest(query_id, neighbor_id) AS vec_b
      |  FROM bf_ranked WHERE rank <= 5 AND cos_sim >= 0.35),
      |planes AS (
      |  SELECT p, list_transform(range(0, 64),
      |    d -> CASE WHEN (strpos('0123456789abcdef',
      |           substring(md5(p || ':' || d), 1, 1)) - 1) % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) AS coefs
      |  FROM range(0, $NumPlanes) t(p)),
      |lsh_bands AS (
      |  SELECT vec_id, p // $bandBits AS band,
      |    CAST(sum(CASE WHEN list_dot_product(coefs, v) > 0
      |        THEN CAST(pow(2, p % $bandBits) AS BIGINT) ELSE 0 END) AS BIGINT) AS bkey
      |  FROM e CROSS JOIN planes
      |  GROUP BY vec_id, p // $bandBits),
      |lsh_cand AS (
      |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      |  FROM lsh_bands x JOIN lsh_bands y
      |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
      |out29 AS (
      |  SELECT vec_a, vec_b
      |  FROM lsh_cand
      |  JOIN e a ON a.vec_id = vec_a
      |  JOIN e b ON b.vec_id = vec_b
      |  WHERE round(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35),
      |${ivfSql("a", 1, "out45")},
      |${ivfSql("b", 1, "outp1")},
      |${ivfSql("b", 2, "outp2")},
      |${ivfSql("b", 4, "outp4")},
      |meth AS (
      |  SELECT 'q29_ann_lsh' AS method, vec_a, vec_b FROM out29
      |  UNION ALL SELECT 'q45_ivf_ann', vec_a, vec_b FROM out45
      |  UNION ALL SELECT 'q54_ivf_probe1', vec_a, vec_b FROM outp1
      |  UNION ALL SELECT 'q54_ivf_multiprobe', vec_a, vec_b FROM outp2
      |  UNION ALL SELECT 'q54_ivf_probe4', vec_a, vec_b FROM outp4),
      |hits AS (
      |  SELECT method, count(*) AS hits
      |  FROM meth JOIN truth USING (vec_a, vec_b)
      |  GROUP BY method),
      |names(method) AS (VALUES ('q29_ann_lsh'), ('q45_ivf_ann'),
      |  ('q54_ivf_probe1'), ('q54_ivf_multiprobe'), ('q54_ivf_probe4')),
      |elig AS (SELECT count(*) AS eligible_pairs FROM truth)
      |SELECT n.method, COALESCE(h.hits, 0) AS hits, elig.eligible_pairs,
      |  round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / elig.eligible_pairs, 4) AS recall_at_5
      |FROM names n LEFT JOIN hits h ON n.method = h.method CROSS JOIN elig
      |ORDER BY n.method""".stripMargin
  }

  /** q60: embedding-cluster dedup, end-to-end — the pipeline a
    * training-data system actually runs over an embedded corpus:
    * multiprobe IVF near-dup pairs (q54) → connected components →
    * one canonical survivor (component minimum) per cluster, every
    * vector labeled. Reuses [[Dedup.connectedComponents]] unchanged —
    * the cluster machinery is pair-source-agnostic (text LSH pairs in
    * q40/q46, embedding ANN pairs here). Scale: the pair list holds
    * only near-duplicates (tiny vs the corpus), components resolve
    * driver-side under the 2M-edge threshold with the distributed
    * min-label loop above it; the final labeling is one broadcast join
    * + one window over the corpus.
    */
  def q60EmbeddingDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = q54IvfMultiprobe(s, dir)
      .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b"))
    val labels = Dedup.connectedComponents(pairs)
      .select($"doc_id".as("vec_id"), $"canonical_id")
    val w = Window.partitionBy($"cluster_id")
    t(s, dir, "embeddings").select($"vec_id")
      .join(broadcast(labels), Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce($"canonical_id", $"vec_id"))
      .withColumn("cluster_n", count(lit(1)).over(w))
      .select($"vec_id", $"cluster_id", $"cluster_n",
        ($"vec_id" === $"cluster_id").as("is_canonical"))
      .orderBy($"vec_id")
  }

  private def q60Sql =
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$ivfDimsSql,
      |${ivfCbSql("b", "b")},
      |${ivfSql("b", 2, "out54")},
      |edges AS (
      |  SELECT vec_a AS a, vec_b AS b FROM out54
      |  UNION ALL SELECT vec_b, vec_a FROM out54),
      |reach AS (
      |  SELECT DISTINCT a AS src, a AS dst FROM edges
      |  UNION
      |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
      |labels AS (SELECT src AS vec_id, min(dst) AS canonical_id FROM reach GROUP BY src),
      |clustered AS (
      |  SELECT emb.vec_id, COALESCE(l.canonical_id, emb.vec_id) AS cluster_id
      |  FROM embeddings emb LEFT JOIN labels l ON emb.vec_id = l.vec_id)
      |SELECT vec_id, cluster_id,
      |  count(*) OVER (PARTITION BY cluster_id) AS cluster_n,
      |  (vec_id = cluster_id) AS is_canonical
      |FROM clustered
      |ORDER BY vec_id""".stripMargin

  // Geometry picked by the q75 gauge: m=32 subspaces of dim 2 with 16
  // codewords each (16 bytes/vector, 32x compression) measured recall@5
  // 0.44/0.56/0.41 at the three SFs vs 0.16/0.16/0.02 for m=4 of dim 16
  // — on these isotropic embeddings, more/finer subspaces beat bigger
  // per-subspace codebooks at equal code size.
  val PqSubspaces = 32
  val PqSubDim = 2
  val PqCodewords = 16  // codewords per subspace

  /** Squared L2 distance composed from dot products — NO sqrt anywhere,
    * so every value is exact fixed-order double arithmetic and the whole
    * PQ pipeline is bit-identical cross-engine (the one libm-unstable
    * operation in this file is the cosine path's sqrt; PQ avoids it).
    */
  private def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Deterministic PQ codebook: the 16 md5-ranked anchor vectors, sliced
    * per subspace — (s, cw, cv) with 64 rows total. At scale a codebook
    * comes from k-means over a driver-side sample (it is tiny by
    * construction: m×k×subdim doubles); the md5 ranking stands in for
    * that training step so the oracle can reproduce it relationally.
    */
  private def pqCodebook(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pqCodebookOf(s,
      t(s, dir, "embeddings").select($"vec_id", d($"embedding").as("v")))
  }

  /** [[pqCodebook]] over an explicit (vec_id, v) source — the seam
    * [[AnnIndex.build]] needs to train on exactly its listing-snapshot
    * file set.
    */
  private def pqCodebookOf(s: SparkSession, ev: DataFrame): DataFrame = {
    import s.implicits._
    // Anchor pick = orderBy().limit(16) -> TakeOrderedAndProject (each
    // task keeps a 16-row heap); the cw rank window then runs over the
    // 16 survivors only, never over the full embedding table.
    val anchors = ev
      .select($"vec_id", $"v", md5($"vec_id".cast("string")).as("mk"))
      .orderBy($"mk", $"vec_id").limit(PqCodewords)
    val w = Window.orderBy($"mk", $"vec_id")
    anchors
      .withColumn("cw", row_number().over(w) - 1)
      .select(explode(sequence(lit(0), lit(PqSubspaces - 1))).as("s"),
        $"cw", $"v")
      .select($"s", $"cw",
        slice($"v", $"s" * PqSubDim + 1, lit(PqSubDim)).as("cv"))
  }

  /** PQ code assignment: per (vector, subspace) the argmin-distance
    * codeword — long form (vec_id, s, cw), one row per code. The
    * codebook join broadcasts (m×k = 512 rows); the argmin ranks on
    * ROUNDED distance with a codeword tiebreak so the assignment is
    * engine-independent.
    */
  private def pqCodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assignPqCodes(s,
      t(s, dir, "embeddings").select($"vec_id", d($"embedding").as("v")),
      cbFlat(s, dir))
  }

  /** PQ code assignment of (vec_id, v) vectors against a GIVEN
    * flattened codebook — shared by the full-corpus trainer above and
    * [[AnnIndex]]'s incremental append (frozen-codebook assignment of a
    * delta batch). Argmin as a lexicographic struct-min:
    * partial-aggregates map-side (a row_number window would sort the
    * full |vecs|×m×k scored table); (dsq, cw) min == rank-1 of
    * ORDER BY dsq, cw — same determinism.
    */
  def assignPqCodes(s: SparkSession, vecs: DataFrame, cbFlatDf: DataFrame): DataFrame = {
    import s.implicits._
    val sub = vecs
      .select($"vec_id",
        explode(sequence(lit(0), lit(PqSubspaces - 1))).as("s"), $"v")
      .select($"vec_id", $"s",
        slice($"v", $"s" * PqSubDim + 1, lit(PqSubDim)).as("sv"))
    sub.select($"vec_id", $"s",
        element_at($"sv", 1).as("x1"), element_at($"sv", 2).as("x2"),
        dot($"sv", $"sv").as("xx"))
      .join(broadcast(cbFlatDf), Seq("s"))
      .select($"vec_id", $"s", $"cw",
        round(($"xx" - lit(2.0) * ($"x1" * $"c1" + $"x2" * $"c2"))
          + $"ccv", 6).as("dsq"))
      .groupBy($"vec_id", $"s")
      .agg(min(struct($"dsq", $"cw")).as("m"))
      .select($"vec_id", $"s", $"m.cw".as("cw"))
  }

  /** Codebook with the dim-2 codeword unpacked to scalars and its
    * self-dot precomputed. The hot loops (assignment, ADC) then evaluate
    * `xx - 2*(x1*c1 + x2*c2) + ccv` as plain codegen'd arithmetic — no
    * per-row array allocation, no CodegenFallback dispatch — while
    * remaining bit-identical to l2sq's fold: a dim-2 sequential-fold dot
    * IS (0 + a1*b1) + a2*b2 = a1*b1 + a2*b2 exactly.
    */
  private def cbFlat(s: SparkSession, dir: String): DataFrame =
    flattenPqCb(s, pqCodebook(s, dir))

  private def flattenPqCb(s: SparkSession, cb: DataFrame): DataFrame = {
    import s.implicits._
    cb.select($"s", $"cw",
      element_at($"cv", 1).as("c1"), element_at($"cv", 2).as("c2"),
      dot($"cv", $"cv").as("ccv"))
  }

  /** Public trainer entry points for the materialized index job
    * ([[AnnIndex.build]]): the flattened PQ codebook (s, cw, c1, c2,
    * ccv — m×k = 512 rows) and the long-form code assignment (vec_id,
    * s, cw — m rows per vector). Identical pipelines to what q74/q75/
    * q137 compute inline; exposing them lets the index job persist the
    * artifacts once per corpus version.
    */
  def trainPqCodebookFlat(s: SparkSession, dir: String): DataFrame =
    cbFlat(s, dir)

  /** [[trainPqCodebookFlat]] over an explicit (vec_id, v) source — for
    * the index job's snapshot-exact build.
    */
  def trainPqCodebookFlatOf(s: SparkSession, ev: DataFrame): DataFrame =
    flattenPqCb(s, pqCodebookOf(s, ev))

  def trainPqCodes(s: SparkSession, dir: String): DataFrame =
    pqCodes(s, dir)

  /** PQ-ADC top-5 per query: asymmetric distance = sum over subspaces of
    * l2sq(query slice, assigned codeword). The neighbor side never
    * touches its raw vector again — only its 16-byte code — which is the
    * entire point at 100 TB: the scored table is |corpus| × m nibbles,
    * and each distance is m lookups against a broadcast 512-row codebook
    * (relationally: one broadcast join on (s, cw)), not a 64-dim dot
    * product. Each per-subspace term is rounded to 6 dp and summed as
    * DECIMAL, so the m-way sum is exact and order-independent — the
    * groupBy can combine partials in any order on any engine.
    */
  /** Per-(query, subspace, codeword) ADC lookup terms — queries×m×k
    * rows, THE precomputed distance table of PQ search; broadcast to
    * wherever codes are scored (full-corpus q74/q75, cell-restricted
    * q137).
    */
  private def pqQueryTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select($"vec_id", d($"embedding").as("v"))
    pqQueryTermsOf(s, dir,
      e.filter($"vec_id" % 100 === 0)
        .select($"vec_id".as("query_id"), $"v".as("qv")))
  }

  /** [[pqQueryTerms]] over an explicit (query_id, qv) set — the seam
    * that lets a gauge run its ADC lookup table over a FIXED-size query
    * sample instead of the corpus-proportional `% 100` subset.
    */
  private def pqQueryTermsOf(
      s: SparkSession, dir: String, queries: DataFrame): DataFrame = {
    import s.implicits._
    // query slices pre-flattened: (query, s, q1, q2, qq) — m rows/query
    queries
      .select($"query_id",
        explode(sequence(lit(0), lit(PqSubspaces - 1))).as("s"), $"qv".as("v"))
      .select($"query_id", $"s",
        slice($"v", $"s" * PqSubDim + 1, lit(PqSubDim)).as("qsl"))
      .select($"query_id", $"s",
        element_at($"qsl", 1).as("x1"), element_at($"qsl", 2).as("x2"),
        dot($"qsl", $"qsl").as("xx"))
      .join(broadcast(AnnIndex.pqCodebookFlat(s, dir)), Seq("s"))
      .select($"query_id", $"s", $"cw",
        round(($"xx" - lit(2.0) * ($"x1" * $"c1" + $"x2" * $"c2"))
          + $"ccv", 6).cast("decimal(18,6)").as("term"))
  }

  private def pqTop5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qsub = pqQueryTerms(s, dir)
    val w = Window.partitionBy($"query_id")
      .orderBy($"adc_dist".asc, $"neighbor_id".asc)
    // ADC = one broadcast lookup join on (s, cw): the per-(query, s, cw)
    // distance table is queries×m×k rows — THE lookup-table trick of PQ.
    // Codes come from the materialized index, not a per-query assignment.
    AnnIndex.pqCodes(s, dir).withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(qsub), Seq("s", "cw"))
      .filter($"query_id" =!= $"neighbor_id")
      .groupBy($"query_id", $"neighbor_id")
      .agg(sum($"term").cast("double").as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
  }

  /** q74: product quantization (Jégou et al. 2011) with ADC ranking —
    * the compressed-domain ANN path: 64 doubles become 4 code bytes
    * (128× smaller), distances come from per-subspace lookup tables.
    * Everything (codebook choice, assignment, ADC) is deterministic
    * exact arithmetic, so the oracle replays the identical pipeline.
    */
  def q74PqAdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pqTop5(s, dir).orderBy($"query_id", $"rank")
  }

  /** q75: PQ recall@5 against the EXACT same-metric (squared-L2) top-5 —
    * methodologically the right gauge: truth and method rank by the same
    * metric, so the number isolates pure quantization loss (q53's
    * cosine-truth harness instead gauges end-use retrieval quality).
    */
  def q75PqRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select($"vec_id", d($"embedding").as("v"))
    val q = e.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"dsq".asc, $"neighbor_id".asc)
    val truth = q.crossJoin(
        e.select($"vec_id".as("neighbor_id"), $"v"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        round(l2sq($"qv", $"v"), 6).as("dsq"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"neighbor_id")
    val hits = pqTop5(s, dir).select($"query_id", $"neighbor_id")
      .join(truth, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("hits"))
    truth.agg(count(lit(1)).as("eligible_pairs"))
      .crossJoin(hits)
      .select(lit("q74_pq_adc").as("method"), $"hits", $"eligible_pairs",
        round($"hits".cast("double") / $"eligible_pairs", 4).as("recall_at_5"))
  }

  /** The PQ index chain alone (codebook, codes, query vectors) — shared
    * by the full-corpus ADC (q74/q75) and the IVF-restricted ADC (q137).
    */
  private val pqIndexSql =
    s"""anch AS (
      |  SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
      |    vec_id) - 1 AS cw
      |  FROM e),
      |cb AS (
      |  SELECT s, cw, list_slice(v, s*$PqSubDim+1, s*$PqSubDim+$PqSubDim) AS cv
      |  FROM (SELECT * FROM anch WHERE cw < $PqCodewords),
      |       (SELECT unnest(generate_series(0, ${PqSubspaces - 1})) AS s)),
      |subt AS (
      |  SELECT vec_id, s, list_slice(v, s*$PqSubDim+1, s*$PqSubDim+$PqSubDim) AS sv
      |  FROM e, (SELECT unnest(generate_series(0, ${PqSubspaces - 1})) AS s)),
      |scored AS (
      |  SELECT vec_id, subt.s AS s, cw,
      |    round(list_dot_product(sv, sv) - 2*list_dot_product(sv, cv)
      |      + list_dot_product(cv, cv), 6) AS dsq
      |  FROM subt JOIN cb USING (s)),
      |codes AS (
      |  SELECT vec_id, s, cw
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
      |          ORDER BY dsq, cw) AS rn
      |        FROM scored)
      |  WHERE rn = 1),
      |qv AS (
      |  SELECT vec_id AS query_id, v AS qvec
      |  FROM e WHERE vec_id % 100 = 0)""".stripMargin

  private val pqCommonSql =
    s"""$pqIndexSql,
      |adc AS (
      |  SELECT query_id, c.vec_id AS neighbor_id,
      |    CAST(sum(CAST(round(
      |        list_dot_product(list_slice(qvec, c.s*$PqSubDim+1, c.s*$PqSubDim+$PqSubDim),
      |                         list_slice(qvec, c.s*$PqSubDim+1, c.s*$PqSubDim+$PqSubDim))
      |      - 2*list_dot_product(list_slice(qvec, c.s*$PqSubDim+1, c.s*$PqSubDim+$PqSubDim), cb.cv)
      |      + list_dot_product(cb.cv, cb.cv), 6) AS DECIMAL(18,6)))
      |      AS DOUBLE) AS adc_dist
      |  FROM qv CROSS JOIN codes c
      |  JOIN cb ON cb.s = c.s AND cb.cw = c.cw
      |  WHERE query_id <> c.vec_id
      |  GROUP BY query_id, c.vec_id),
      |pq5 AS (
      |  SELECT query_id, neighbor_id, adc_dist, rank FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_dist, neighbor_id) AS rank
      |    FROM adc)
      |  WHERE rank <= 5)""".stripMargin

  private val q74Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |$pqCommonSql
      |SELECT query_id, neighbor_id, adc_dist, rank FROM pq5
      |ORDER BY query_id, rank""".stripMargin

  /** Exact squared-L2 top-5 truth CTE (same-metric gauge), shared by
    * q75 (full `% 100` query set) and q137 (capped sample).
    */
  private def pqExactSqlOf(cap: Option[Int]): String = {
    val qsrc = "SELECT vec_id AS query_id, v AS qv2 FROM e WHERE vec_id % 100 = 0" +
      cap.map(c =>
        s" ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $c").getOrElse("")
    s"""exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, x.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY
      |        round(list_dot_product(qv2, qv2) - 2*list_dot_product(qv2, x.v)
      |          + list_dot_product(x.v, x.v), 6), x.vec_id) AS rank
      |    FROM ($qsrc) q
      |    CROSS JOIN e x WHERE q.query_id <> x.vec_id)
      |  WHERE rank <= 5)""".stripMargin
  }

  private def pqExactSql = pqExactSqlOf(None)

  private val q75Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |$pqCommonSql,
      |$pqExactSql,
      |h AS (SELECT count(*) AS hits
      |      FROM pq5 JOIN exact USING (query_id, neighbor_id)),
      |elig AS (SELECT count(*) AS eligible_pairs FROM exact)
      |SELECT 'q74_pq_adc' AS method, h.hits, elig.eligible_pairs,
      |  round(CAST(h.hits AS DOUBLE) / elig.eligible_pairs, 4) AS recall_at_5
      |FROM h CROSS JOIN elig""".stripMargin

  /** q137: IVF-PQ — the production ANN composition (FAISS's IVFADC):
    * coarse IVF routing first, then PQ asymmetric-distance scoring of
    * ONLY the candidates in the probed cells. q74 scores the whole
    * corpus per query (|corpus|×m lookup rows); here the lookup join
    * runs on the cell-restricted candidate set, so per-query cost
    * scales with |cell|·probes while the scored representation stays
    * 16-byte codes — the two orthogonal reductions (which vectors / how
    * each is scored) composed. Round 8: reports probe-2 AND probe-4
    * from ONE depth-annotated run off the materialized index (a pair's
    * probe_depth = min over shared cells of max(query rank, neighbor
    * rank) — the smallest probe budget that surfaces it), each judged
    * against the exact same-metric L2 truth next to its candidate
    * volume, so the routing-depth / recall / cost trade reads off two
    * adjacent rows. Probe-4 recall converges toward q75's full-corpus
    * ADC (the quantization-loss ceiling for this code size).
    *
    * Round 9 adds the third stage every production IVF-PQ deployment
    * runs (FAISS refine / DiskANN re-rank): the probe-4 ADC scores are
    * kept only as a SHORTLIST (top-[[RerankDepth]] per query by ADC
    * distance), and the shortlist is re-ranked by EXACT L2 against the
    * true stored vectors. The 16-byte code's quantization noise — the
    * 0.56 recall ceiling the probe rows sit at — cancels entirely for
    * any truth pair the shortlist covers, so the reranked row's recall
    * is pure routing+shortlist coverage — measured 0.92 at BOTH
    * sf0.001 and sf0.01 (vs 0.40/0.56 for the raw probe-4 ADC: the
    * code's noise was the binding loss, exactly the ceiling diagnosis)
    * — while the exact-scored volume stays [[RerankDepth]]·|queries| — at
    * production scale a vanishing fraction of the corpus (the corpus-
    * wide exact scan q22 runs is |corpus|·|queries|). Its n_candidates
    * column reports that exact-rerank volume, directly comparable to
    * the probe rows' ADC-scored volumes one line up.
    *
    * Like q53, the gauge's query set is the fixed [[AnnTruthQueryCap]]
    * md5-ranked sample of the `% 100` subset — every per-query arm
    * (candidate routing, ADC lookup join, exact truth, re-rank) is
    * O(cap · n) at any corpus size; gate-SF outputs are unchanged
    * (5/20 queries < cap).
    */
  val RerankDepth = 50

  def q137IvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v")).persist()
    // FIXED-size query sample ([[AnnTruthQueryCap]], same md5 ranking as
    // q53): every per-query arm of this gauge — routing candidates, ADC
    // scoring, exact truth, re-rank — is O(cap · n) at any corpus size
    // instead of scaling with the `% 100` subset (∝ n). The gate SFs
    // carry 5/20 queries, below the cap, so outputs are unchanged.
    val q = e.filter($"vec_id" % 100 === 0)
      .withColumn("mk", md5($"vec_id".cast("string")))
      .orderBy($"mk", $"vec_id").limit(AnnTruthQueryCap)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val qIds = q.select($"query_id".as("vec_id"))
    // Both index sides come from the materialized artifact: probe-rank
    // routing (pushed rn filter on the persisted cells) and the PQ
    // codes — the query never trains or assigns anything.
    val cells = AnnIndex.cells(s, dir, "b", maxProbes = 4)
    val cq = cells.join(broadcast(qIds), Seq("vec_id"))
      .select($"vec_id".as("query_id"), $"cell", $"rn".as("rnq"))
    val cn = cells
      .select($"vec_id".as("neighbor_id"), $"cell", $"rn".as("rnn"))
    val cand = cq.join(cn, Seq("cell"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        greatest($"rnq", $"rnn").as("pd"))
      .groupBy($"query_id", $"neighbor_id")
      .agg(min($"pd").as("probe_depth"))
    // score the depth-4 superset ONCE; each probe setting is a filter
    val adc = cand
      .join(AnnIndex.pqCodes(s, dir).withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .join(broadcast(pqQueryTermsOf(s, dir, q)), Seq("query_id", "s", "cw"))
      .groupBy($"query_id", $"neighbor_id")
      .agg(sum($"term").cast("double").as("adc_dist"),
        min($"probe_depth").as("probe_depth"))
      .persist()
    val wt = Window.partitionBy($"query_id")
      .orderBy($"dsq".asc, $"neighbor_id".asc)
    val truth = q.crossJoin(e.select($"vec_id".as("neighbor_id"), $"v"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        round(l2sq($"qv", $"v"), 6).as("dsq"))
      .withColumn("rank", row_number().over(wt))
      .filter($"rank" <= 5)
      .select($"query_id", $"neighbor_id")
      .persist()
    val elig = truth.agg(count(lit(1)).as("eligible_pairs"))
    def reportAt(p: Int): DataFrame = {
      val sub = adc.filter($"probe_depth" <= p)
      val w5 = Window.partitionBy($"query_id")
        .orderBy($"adc_dist".asc, $"neighbor_id".asc)
      val top5 = sub.withColumn("rank", row_number().over(w5))
        .filter($"rank" <= 5).select($"query_id", $"neighbor_id")
      val hits = top5.join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
      sub.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(hits).crossJoin(elig)
        .select(lit(s"q137_ivfpq_probe$p").as("method"), $"n_candidates",
          $"hits", $"eligible_pairs",
          round($"hits".cast("double") / $"eligible_pairs", 4).as("recall_at_5"))
    }
    // Stage 3: exact re-rank of the ADC shortlist. The shortlist window
    // runs over the already-persisted depth-4 ADC scores (queries ×
    // |cell candidates| rows); the exact pass then touches only
    // RerankDepth true vectors per query — the two joins broadcast the
    // tiny shortlist/query sides so the vector table is probed, never
    // shuffled.
    val wsl = Window.partitionBy($"query_id")
      .orderBy($"adc_dist".asc, $"neighbor_id".asc)
    val short = adc.withColumn("srk", row_number().over(wsl))
      .filter($"srk" <= RerankDepth)
      .select($"query_id", $"neighbor_id")
    val wrr = Window.partitionBy($"query_id")
      .orderBy($"dsq".asc, $"neighbor_id".asc)
    val rr5 = e.select($"vec_id".as("neighbor_id"), $"v")
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select($"query_id", $"neighbor_id",
        round(l2sq($"qv", $"v"), 6).as("dsq"))
      .withColumn("rank", row_number().over(wrr))
      .filter($"rank" <= 5)
      .select($"query_id", $"neighbor_id")
    val rrHits = rr5.join(truth, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("hits"))
    val rrReport = short.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(rrHits).crossJoin(elig)
      .select(lit("q137_ivfpq_rerank").as("method"), $"n_candidates",
        $"hits", $"eligible_pairs",
        round($"hits".cast("double") / $"eligible_pairs", 4).as("recall_at_5"))
    reportAt(2).unionByName(reportAt(4)).unionByName(rrReport)
      .orderBy($"method")
  }

  private def q137Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |$ivfDimsSql,
      |${ivfCbSql("b", "b")},
      |cents AS (SELECT cid AS centroid_id, cv FROM cb_b),
      |csc AS (
      |  SELECT e.vec_id, centroid_id,
      |    round(list_dot_product(v, cv) /
      |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6)
      |      AS csim
      |  FROM e CROSS JOIN cents),
      |cells AS (
      |  SELECT vec_id, centroid_id AS cell, rn FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY csim DESC, centroid_id ASC) AS rn
      |    FROM csc) WHERE rn <= 4),
      |qs AS (
      |  SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id % 100 = 0
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $AnnTruthQueryCap),
      |cand AS (
      |  SELECT cq.vec_id AS query_id, cn.vec_id AS neighbor_id,
      |    min(greatest(cq.rn, cn.rn)) AS probe_depth
      |  FROM cells cq JOIN cells cn USING (cell)
      |  JOIN qs ON qs.query_id = cq.vec_id
      |  WHERE cq.vec_id <> cn.vec_id
      |  GROUP BY 1, 2),
      |$pqIndexSql,
      |adc AS (
      |  SELECT cand.query_id, c.vec_id AS neighbor_id,
      |    CAST(sum(CAST(round(
      |        list_dot_product(list_slice(qs.qvec, c.s*$PqSubDim+1, c.s*$PqSubDim+$PqSubDim),
      |                         list_slice(qs.qvec, c.s*$PqSubDim+1, c.s*$PqSubDim+$PqSubDim))
      |      - 2*list_dot_product(list_slice(qs.qvec, c.s*$PqSubDim+1, c.s*$PqSubDim+$PqSubDim), cb.cv)
      |      + list_dot_product(cb.cv, cb.cv), 6) AS DECIMAL(18,6)))
      |      AS DOUBLE) AS adc_dist,
      |    min(cand.probe_depth) AS probe_depth
      |  FROM cand
      |  JOIN codes c ON c.vec_id = cand.neighbor_id
      |  JOIN cb ON cb.s = c.s AND cb.cw = c.cw
      |  JOIN qs ON qs.query_id = cand.query_id
      |  GROUP BY 1, 2),
      |pq5_2 AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_dist, neighbor_id) AS rank
      |    FROM adc WHERE probe_depth <= 2)
      |  WHERE rank <= 5),
      |pq5_4 AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_dist, neighbor_id) AS rank
      |    FROM adc)
      |  WHERE rank <= 5),
      |short AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_dist, neighbor_id) AS srk
      |    FROM adc)
      |  WHERE srk <= $RerankDepth),
      |rr5 AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT sh.query_id, sh.neighbor_id,
      |      row_number() OVER (PARTITION BY sh.query_id ORDER BY
      |        round(list_dot_product(qs.qvec, qs.qvec)
      |          - 2*list_dot_product(qs.qvec, x.v)
      |          + list_dot_product(x.v, x.v), 6) ASC, sh.neighbor_id ASC) AS rank
      |    FROM short sh
      |    JOIN e x ON x.vec_id = sh.neighbor_id
      |    JOIN qs ON qs.query_id = sh.query_id)
      |  WHERE rank <= 5),
      |${pqExactSqlOf(Some(AnnTruthQueryCap))},
      |elig AS (SELECT count(*) AS eligible_pairs FROM exact),
      |h2 AS (SELECT count(*) AS hits
      |       FROM pq5_2 JOIN exact USING (query_id, neighbor_id)),
      |h4 AS (SELECT count(*) AS hits
      |       FROM pq5_4 JOIN exact USING (query_id, neighbor_id)),
      |hr AS (SELECT count(*) AS hits
      |       FROM rr5 JOIN exact USING (query_id, neighbor_id)),
      |n2 AS (SELECT count(*) AS n_candidates FROM adc WHERE probe_depth <= 2),
      |n4 AS (SELECT count(*) AS n_candidates FROM adc),
      |nr AS (SELECT count(*) AS n_candidates FROM short)
      |SELECT * FROM (
      |  SELECT 'q137_ivfpq_probe2' AS method, n2.n_candidates, h2.hits,
      |    elig.eligible_pairs,
      |    round(CAST(h2.hits AS DOUBLE) / elig.eligible_pairs, 4) AS recall_at_5
      |  FROM h2 CROSS JOIN elig CROSS JOIN n2
      |  UNION ALL
      |  SELECT 'q137_ivfpq_probe4', n4.n_candidates, h4.hits,
      |    elig.eligible_pairs,
      |    round(CAST(h4.hits AS DOUBLE) / elig.eligible_pairs, 4)
      |  FROM h4 CROSS JOIN elig CROSS JOIN n4
      |  UNION ALL
      |  SELECT 'q137_ivfpq_rerank', nr.n_candidates, hr.hits,
      |    elig.eligible_pairs,
      |    round(CAST(hr.hits AS DOUBLE) / elig.eligible_pairs, 4)
      |  FROM hr CROSS JOIN elig CROSS JOIN nr)
      |ORDER BY method""".stripMargin

  /** q161: incremental index maintenance — the FROZEN-CODEBOOK append
    * contract every production IVF system runs (FAISS add-after-train;
    * retrain on drift, not per batch). The codebook trains on the BASE
    * corpus only (vec_id % 10 ≠ 7, via [[ivfCodebookOf]]); the later
    * delta batch (vec_id % 10 = 7) routes against that frozen artifact,
    * so (a) base assignments are byte-identical to what a pre-delta
    * index held — appends never perturb existing cells — and (b) the
    * delta's cost is one O(|delta|·k) scoring pass against a ≤2 MB
    * broadcast, not a rebuild. Emits every vector's top-2 cells tagged
    * base/delta; the oracle re-trains the same base-only codebook
    * relationally, so a single leaked delta vector into training breaks
    * the hash. (This is the semantic twin of [[AnnIndex]]'s
    * appendInPlace note: the artifact-level append lands cells/codes
    * for new vectors against the frozen codebook tables.)
    */
  def q161IndexAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val base = all.filter($"vec_id" % 10 =!= 7).select($"vec_id", $"v")
    val cb = ivfCodebookOf(s, base, "c")
    val w = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"centroid_id".asc)
    all.crossJoin(broadcast(cb))
      .select($"vec_id", $"centroid_id",
        round(dot($"v", $"cv") / ($"nrm" * $"cnrm"), 6).as("csim"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2)
      .select($"vec_id",
        when($"vec_id" % 10 === 7, lit("delta")).otherwise(lit("base")).as("src"),
        $"rn", $"centroid_id".as("cell"))
      .orderBy($"vec_id", $"rn")
  }

  private def q161Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id % 10 <> 7),
      |$ivfDimsSql,
      |${ivfCbSql("c", "c")},
      |allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |scored AS (
      |  SELECT a.vec_id, c.cid,
      |    round(list_dot_product(a.v, c.cv) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6)
      |      AS csim
      |  FROM allv a CROSS JOIN cb_c c)
      |SELECT vec_id,
      |  CASE WHEN vec_id % 10 = 7 THEN 'delta' ELSE 'base' END AS src,
      |  rn, cid AS cell
      |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
      |        ORDER BY csim DESC, cid ASC) AS rn
      |      FROM scored)
      |WHERE rn <= 2
      |ORDER BY vec_id, rn""".stripMargin

  /** Within-cluster cosine above which two members count as semantic
    * duplicates for q163 — tuned to the synthetic corpus's intra-label
    * ceiling (~0.47) the same way the 0.35 near-dup threshold is.
    */
  val SemDedupEps = 0.35

  /** q163: SemDeDup (Abbas et al. 2023) — the embedding-space dedup a
    * pretraining pipeline runs BEFORE any pairwise-graph machinery:
    * cluster the corpus (here: the materialized IVF index's probe-1
    * cells, salt "b" — SemDeDup's k-means step is exactly what the
    * index job already ran), then inside each cluster mark as removable
    * every member that has a ≥[[SemDedupEps]]-cosine neighbor ranked
    * CLOSER-to-keep than itself. The paper keeps the member with the
    * LOWEST cosine to its centroid (the cluster's least-prototypical,
    * most-informative example); rank = (cent_sim ASC, vec_id ASC), so x
    * is removed iff some qualifying neighbor y precedes it. One
    * directed comparison per qualifying pair — no connected components,
    * no iteration: exactly the paper's one-shot prune, and the contract
    * that separates q163 from q60 (which builds the full dup-graph and
    * elects canonical survivors per component).
    *
    * Scale: cell-local pairing is the q45 shape — O(n²/k) = O(n^1.5)
    * candidate work at k=√n cell geometry, never all-pairs; centroid
    * sims come from one broadcast join against the ≤[[IvfK]]-row
    * codebook; the removal vote is a cell-keyed semi-join.
    */
  def q163SemDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val cb = AnnIndex.codebook(s, dir, "b")
    val wc = AnnIndex.cells(s, dir, "b", maxProbes = 1)
      .select($"vec_id", $"cell")
      .join(e, Seq("vec_id"))
      .join(broadcast(cb), $"cell" === $"centroid_id")
      .select($"vec_id", $"cell", $"v", $"nrm",
        round(dot($"v", $"cv") / ($"nrm" * $"cnrm"), 6).as("cent_sim"))
      .persist()
    val x = wc.select($"vec_id".as("xid"), $"cell", $"v".as("xv"),
      $"nrm".as("xn"), $"cent_sim".as("xc"))
    val y = wc.select($"vec_id".as("yid"), $"cell", $"v".as("yv"),
      $"nrm".as("yn"), $"cent_sim".as("yc"))
    val removed = x.join(y, Seq("cell"))
      .filter($"xid" =!= $"yid")
      .filter(round(dot($"xv", $"yv") / ($"xn" * $"yn"), 6) >= SemDedupEps)
      .filter($"yc" < $"xc" || ($"yc" === $"xc" && $"yid" < $"xid"))
      .select($"xid").distinct()
    wc.join(removed, wc("vec_id") === removed("xid"), "left")
      .select(wc("vec_id"), wc("cell"), $"cent_sim",
        removed("xid").isNotNull.as("removed"))
      .orderBy($"vec_id")
  }

  private def q163Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$ivfDimsSql,
      |${ivfCbSql("b", "b")},
      |sc163 AS (
      |  SELECT e.vec_id, c.cid,
      |    round(list_dot_product(v, cv) /
      |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
      |  FROM e CROSS JOIN cb_b c),
      |wc AS (
      |  SELECT vec_id, cid AS cell, csim AS cent_sim FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY csim DESC, cid ASC) AS rn
      |    FROM sc163) WHERE rn = 1),
      |wv AS (SELECT wc.vec_id, wc.cell, wc.cent_sim, e.v
      |       FROM wc JOIN e USING (vec_id)),
      |rem AS (
      |  SELECT DISTINCT x.vec_id FROM wv x JOIN wv y
      |    ON x.cell = y.cell AND x.vec_id <> y.vec_id
      |  WHERE round(list_dot_product(x.v, y.v) /
      |      (sqrt(list_dot_product(x.v, x.v)) *
      |       sqrt(list_dot_product(y.v, y.v))), 6) >= $SemDedupEps
      |    AND (y.cent_sim < x.cent_sim OR
      |         (y.cent_sim = x.cent_sim AND y.vec_id < x.vec_id))),
      |out163 AS (
      |  SELECT w.vec_id, w.cell, w.cent_sim,
      |    (r.vec_id IS NOT NULL) AS removed
      |  FROM wv w LEFT JOIN rem r ON w.vec_id = r.vec_id)
      |SELECT vec_id, cell, cent_sim, removed FROM out163
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q292

  /** q292: INCREMENTAL SemDeDup — the O(delta) selection arm the
    * round-9 one-shot q163 lacked, wired to the frozen-codebook append
    * contract (q161 / [[AnnIndex]] appendInPlace): the codebook trains
    * on the BASE corpus only (vec_id % 10 ≠ 7, salt "c" — q161's
    * artifact); the delta batch routes against that frozen broadcast,
    * and the removal set is assembled ADDITIVELY —
    *
    *   removals(base ∪ delta)  =  removals(base × base)      [frozen:
    *       what the pre-delta pass already materialized]
    *                           ∪  removals(union × delta)     [anyone
    *       newly voted out by a keep-ranked delta neighbor]
    *                           ∪  removals(delta × base)      [delta
    *       members voted out by existing base neighbors]
    *
    * — an exact partition of the union's directed pair votes by
    * which side the members came from, so delta-selection ≡ full
    * recompute on the union. THE ORACLE RUNS THE FULL RECOMPUTE
    * (q163's shape against the base-frozen codebook); hash equality IS
    * the equivalence proof, the q161 contract shape. At production
    * cadence only the two delta-touching terms run — O(|delta| ·
    * cell-occupancy) pair work + one O(|delta|·k) routing pass, never
    * a corpus re-scan (the base×base term reads the materialized
    * verdicts; [[graft.Smoke]] `delta-select` measures exactly that split:
    * bytes read by the delta arm vs the full recompute). Round 11:
    * both arms run inside the [[SemDedupGaugeCap]] md5-ranked slice —
    * see the cap's scaladoc; gate-SF outputs unchanged.
    */
  /** Fixed vector-slice budget for q292's oracle-carried equivalence
    * arm (the q220 fixed-sample rule): the full-recompute oracle is
    * inherently O(n^1.5) in cell-pair votes, so BOTH arms run inside
    * the [[SemDedupGaugeCap]] smallest-md5(vec_id) vectors — the
    * equivalence theorem is corpus-size-free, and the gauge cost stops
    * scaling with the corpus. At the correctness-gate SFs (≤ cap
    * vectors) the slice IS the corpus, so outputs there are unchanged.
    * The PRODUCTION arm's O(delta) claim is measured separately on the
    * uncapped corpus by [[graft.Smoke]] `delta-select`.
    */
  val SemDedupGaugeCap = 2000

  /** The q292 gauge slice: [[SemDedupGaugeCap]] smallest-md5(vec_id)
    * vectors of an (vec_id, embedding) frame, widened to doubles with
    * norms attached — factored out so the [[SemCodebook]] artifact's
    * build derives EXACTLY the frame the query filters its base from
    * (bit-identical slice membership is what makes the persisted
    * codebook ≡ the in-query training it replaced).
    */
  private[operators] def semSliceAll(s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    val sample = emb.select($"vec_id")
      .orderBy(md5($"vec_id".cast("string")).asc, $"vec_id".asc)
      .limit(SemDedupGaugeCap)
    emb.join(broadcast(sample), "vec_id")
      .select($"vec_id", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
  }

  def q292IncrementalSemdedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // persisted: both assign passes re-evaluate this frame — without the
    // cache each pass would re-run the slice join it now carries
    val all = semSliceAll(s,
      t(s, dir, "embeddings").select($"vec_id", $"embedding")).persist()
    val base = all.filter($"vec_id" % 10 =!= 7)
    val delta = all.filter($"vec_id" % 10 === 7)
    // round 12 (the q173 precedent, VERDICT r11 #1): the slice codebook's
    // Lloyd rounds no longer run in-query — [[SemCodebook]] persists the
    // trained result once per corpus fingerprint and every invocation
    // reads the ≤IvfK-row parquet. The artifact build runs the SAME
    // ivfCodebookOf over the SAME base slice, so the read is
    // bit-identical to the training it replaced and the oracle (which
    // re-derives training relationally) is untouched.
    val cb = SemCodebook.codebook(s, dir)
    val baseA = semdedupAssign(s, base, cb).persist()
    val deltaA = semdedupAssign(s, delta, cb).persist()
    val unionA = baseA.unionByName(deltaA)
    val removed = semdedupRemovals(baseA, baseA)
      .unionByName(semdedupRemovals(unionA, deltaA))
      .unionByName(semdedupRemovals(deltaA, baseA))
      .distinct()
    unionA.join(removed, unionA("vec_id") === removed("xid"), "left")
      .select(unionA("vec_id"),
        when(unionA("vec_id") % 10 === 7, lit("delta"))
          .otherwise(lit("base")).as("src"),
        unionA("cell"), $"cent_sim", removed("xid").isNotNull.as("removed"))
      .orderBy($"vec_id")
  }

  /** Probe-1 routing + centroid similarity against a frozen codebook —
    * the shared assign stage of the incremental selection arm (q292 and
    * [[graft.Smoke]] `delta-select`).
    */
  def semdedupAssign(s: SparkSession, ev: DataFrame, cb: DataFrame): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"centroid_id".asc)
    ev.crossJoin(broadcast(cb))
      .select($"vec_id", $"v", $"nrm", $"centroid_id",
        round(dot($"v", $"cv") / ($"nrm" * $"cnrm"), 6).as("csim"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"vec_id", $"centroid_id".as("cell"), $"v", $"nrm",
        $"csim".as("cent_sim"))
  }

  /** The directed SemDeDup pair vote (q163's removal rule) with the two
    * sides EXPLICIT: x is removed iff some y on the other side shares
    * its cell, matches at ≥ [[SemDedupEps]], and precedes it in
    * keep-rank (cent_sim ASC, vec_id ASC). Splitting by side is what
    * makes the incremental decomposition in [[q292IncrementalSemdedup]]
    * an exact partition.
    */
  def semdedupRemovals(xs: DataFrame, ys: DataFrame): DataFrame = {
    val x = xs.select(col("vec_id").as("xid"), col("cell"), col("v").as("xv"),
      col("nrm").as("xn"), col("cent_sim").as("xc"))
    val y = ys.select(col("vec_id").as("yid"), col("cell"), col("v").as("yv"),
      col("nrm").as("yn"), col("cent_sim").as("yc"))
    x.join(y, Seq("cell"))
      .filter(col("xid") =!= col("yid"))
      .filter(round(dot(col("xv"), col("yv")) / (col("xn") * col("yn")), 6) >= SemDedupEps)
      .filter(col("yc") < col("xc") ||
        (col("yc") === col("xc") && col("yid") < col("xid")))
      .select(col("xid")).distinct()
  }

  private def q292Sql =
    s"""WITH sl AS (
      |  SELECT vec_id FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $SemDedupGaugeCap),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |      FROM embeddings JOIN sl USING (vec_id) WHERE vec_id % 10 <> 7),
      |$ivfDimsSql,
      |${ivfCbSql("c", "c")},
      |allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |         FROM embeddings JOIN sl USING (vec_id)),
      |sc292 AS (
      |  SELECT a.vec_id, c.cid,
      |    round(list_dot_product(a.v, c.cv) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6)
      |      AS csim
      |  FROM allv a CROSS JOIN cb_c c),
      |wc AS (
      |  SELECT vec_id, cid AS cell, csim AS cent_sim FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY csim DESC, cid ASC) AS rn
      |    FROM sc292) WHERE rn = 1),
      |wv AS (SELECT wc.vec_id, wc.cell, wc.cent_sim, a.v
      |       FROM wc JOIN allv a USING (vec_id)),
      |rem AS (
      |  SELECT DISTINCT x.vec_id FROM wv x JOIN wv y
      |    ON x.cell = y.cell AND x.vec_id <> y.vec_id
      |  WHERE round(list_dot_product(x.v, y.v) /
      |      (sqrt(list_dot_product(x.v, x.v)) *
      |       sqrt(list_dot_product(y.v, y.v))), 6) >= $SemDedupEps
      |    AND (y.cent_sim < x.cent_sim OR
      |         (y.cent_sim = x.cent_sim AND y.vec_id < x.vec_id)))
      |SELECT w.vec_id,
      |  CASE WHEN w.vec_id % 10 = 7 THEN 'delta' ELSE 'base' END AS src,
      |  w.cell, w.cent_sim, (r.vec_id IS NOT NULL) AS removed
      |FROM wv w LEFT JOIN rem r ON w.vec_id = r.vec_id
      |ORDER BY w.vec_id""".stripMargin

  /** Hard negatives emitted per anchor in q164 — the contrastive-batch
    * fan-out (a real miner ships 1–8 per anchor; 3 keeps the gate
    * output readable).
    */
  val HardNegK = 3

  /** q164: hard-negative mining — the embedding-training companion of
    * the ANN family: for EVERY anchor vector, the [[HardNegK]]
    * highest-cosine candidates that carry a DIFFERENT label (the
    * "hard" negatives that sit inside the anchor's semantic
    * neighborhood yet must be pushed apart — the batch-construction
    * step of every modern contrastive embedding recipe). Candidates
    * come from the materialized index (salt "b", probe-2 shared cells,
    * the q54 pair machinery made directional), so the miner never
    * scores the corpus crosswise: per-anchor work is cell occupancy,
    * not n. Exact cosine + rounded-rank tiebreak keeps the emitted
    * triplet set engine-deterministic.
    *
    * Scale: candidate volume is the q54 collision set (O(n·occupancy)
    * with √n cells); the per-anchor top-k window partitions on
    * anchor_id — thousands of small groups, never a global sort; label
    * lookups ride the same shuffle as the vector join.
    */
  def q164HardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", $"label", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val cells = AnnIndex.cells(s, dir, "b", maxProbes = 2)
    val ca = cells.select($"vec_id".as("anchor_id"), $"cell")
    val cn = cells.select($"vec_id".as("neg_id"), $"cell")
    val cand = ca.join(cn, Seq("cell"))
      .filter($"anchor_id" =!= $"neg_id")
      .select($"anchor_id", $"neg_id").distinct()
    val w = Window.partitionBy($"anchor_id")
      .orderBy($"cos_sim".desc, $"neg_id".asc)
    cand
      .join(e.select($"vec_id".as("anchor_id"), $"label".as("anchor_label"),
        $"v".as("av"), $"nrm".as("an")), Seq("anchor_id"))
      .join(e.select($"vec_id".as("neg_id"), $"label".as("neg_label"),
        $"v".as("nv"), $"nrm".as("nn")), Seq("neg_id"))
      .filter($"anchor_label" =!= $"neg_label")
      .select($"anchor_id", $"neg_id", $"anchor_label", $"neg_label",
        round(dot($"av", $"nv") / ($"an" * $"nn"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= HardNegK)
      .orderBy($"anchor_id", $"rank")
  }

  private def q164Sql =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$ivfDimsSql,
      |${ivfCbSql("b", "b")},
      |sc164 AS (
      |  SELECT e.vec_id, c.cid,
      |    round(list_dot_product(v, cv) /
      |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
      |  FROM e CROSS JOIN cb_b c),
      |cells164 AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY csim DESC, cid ASC) AS rn
      |    FROM sc164) WHERE rn <= 2),
      |cand AS (
      |  SELECT DISTINCT ca.vec_id AS anchor_id, cb2.vec_id AS neg_id
      |  FROM cells164 ca JOIN cells164 cb2
      |    ON ca.cell = cb2.cell AND ca.vec_id <> cb2.vec_id),
      |scored AS (
      |  SELECT anchor_id, neg_id, a.label AS anchor_label, b.label AS neg_label,
      |    round(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) *
      |       sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
      |  FROM cand
      |  JOIN e a ON a.vec_id = anchor_id
      |  JOIN e b ON b.vec_id = neg_id
      |  WHERE a.label <> b.label)
      |SELECT anchor_id, neg_id, anchor_label, neg_label, cos_sim, rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
      |        ORDER BY cos_sim DESC, neg_id ASC) AS rank
      |      FROM scored)
      |WHERE rank <= $HardNegK
      |ORDER BY anchor_id, rank""".stripMargin

  /** kNN depth for the q165 margin denominator (CCMatrix uses 4–16;
    * 4 keeps the gate corpus's sparse cells populated).
    */
  val MarginK = 4

  /** Ratio-margin above which a mutual pair counts as mined in q165. */
  val MarginThreshold = 1.05

  /** q165: margin-based parallel-pair mining (Artetxe & Schwenk 2019;
    * the CCMatrix/LASER construction) — the cross-corpus alignment op a
    * multilingual training pipeline runs to harvest translation pairs:
    * split the corpus into two sides (label parity stands in for the
    * two languages), take each side's kNN over the OTHER side, and
    * score every candidate pair by the RATIO margin
    * `2·cos(x,y) / (avgK(x) + avgK(y))` — cosine normalized by how
    * crowded each endpoint's neighborhood is, which is what separates
    * true pairs from hubs. A pair is mined iff it is the MUTUAL top-1
    * in both directions and its margin clears [[MarginThreshold]].
    *
    * Candidates come from probe-3 shared cells of the materialized
    * index (mining at 100 TB is FAISS-backed for exactly this reason —
    * never side_A × side_B). Determinism: per-pair cosine rounds to 6
    * digits and REDUCES TO DECIMAL, so the avgK sums are exact and the
    * one double division per endpoint is IEEE-reproducible.
    */
  def q165BitextMargin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", ($"label" % 2).as("side"), d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val cells = AnnIndex.cells(s, dir, "b", maxProbes = 3)
    val xa = cells.join(e.filter($"side" === 0)
      .select($"vec_id"), Seq("vec_id")).select($"vec_id".as("src_id"), $"cell")
    val yb = cells.join(e.filter($"side" === 1)
      .select($"vec_id"), Seq("vec_id")).select($"vec_id".as("tgt_id"), $"cell")
    val scored = xa.join(yb, Seq("cell"))
      .select($"src_id", $"tgt_id").distinct()
      .join(e.select($"vec_id".as("src_id"), $"v".as("xv"), $"nrm".as("xn")),
        Seq("src_id"))
      .join(e.select($"vec_id".as("tgt_id"), $"v".as("yv"), $"nrm".as("yn")),
        Seq("tgt_id"))
      .select($"src_id", $"tgt_id",
        round(dot($"xv", $"yv") / ($"xn" * $"yn"), 6)
          .cast("decimal(9,6)").as("cosd"))
      .persist()
    val wx = Window.partitionBy($"src_id").orderBy($"cosd".desc, $"tgt_id".asc)
    val wy = Window.partitionBy($"tgt_id").orderBy($"cosd".desc, $"src_id".asc)
    val rk = scored
      .withColumn("rnx", row_number().over(wx))
      .withColumn("rny", row_number().over(wy))
      .persist()
    val ax = rk.filter($"rnx" <= MarginK).groupBy($"src_id")
      .agg((sum($"cosd").cast("double") / count(lit(1))).as("ax"))
    val ay = rk.filter($"rny" <= MarginK).groupBy($"tgt_id")
      .agg((sum($"cosd").cast("double") / count(lit(1))).as("ay"))
    val out = rk.filter($"rnx" === 1 && $"rny" === 1)
      .join(ax, Seq("src_id")).join(ay, Seq("tgt_id"))
      .select($"src_id", $"tgt_id", $"cosd".cast("double").as("cos_sim"),
        round(($"cosd".cast("double") * 2) / ($"ax" + $"ay"), 6).as("margin"))
      .withColumn("mined", $"margin" >= MarginThreshold)
      .orderBy($"src_id")
    scored.unpersist(false)
    out
  }

  private def q165Sql =
    s"""WITH e AS (SELECT vec_id, label % 2 AS side,
      |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$ivfDimsSql,
      |${ivfCbSql("b", "b")},
      |sc165 AS (
      |  SELECT e.vec_id, c.cid,
      |    round(list_dot_product(v, cv) /
      |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
      |  FROM e CROSS JOIN cb_b c),
      |cells165 AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY csim DESC, cid ASC) AS rn
      |    FROM sc165) WHERE rn <= 3),
      |cand AS (
      |  SELECT DISTINCT xa.vec_id AS src_id, yb.vec_id AS tgt_id
      |  FROM cells165 xa JOIN e ea ON ea.vec_id = xa.vec_id AND ea.side = 0
      |  JOIN cells165 yb ON yb.cell = xa.cell
      |  JOIN e eb ON eb.vec_id = yb.vec_id AND eb.side = 1),
      |scored AS (
      |  SELECT src_id, tgt_id,
      |    CAST(round(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) *
      |       sqrt(list_dot_product(b.v, b.v))), 6) AS DECIMAL(9,6)) AS cosd
      |  FROM cand
      |  JOIN e a ON a.vec_id = src_id
      |  JOIN e b ON b.vec_id = tgt_id),
      |rk AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY src_id ORDER BY cosd DESC, tgt_id ASC) AS rnx,
      |    row_number() OVER (PARTITION BY tgt_id ORDER BY cosd DESC, src_id ASC) AS rny
      |  FROM scored),
      |ax AS (SELECT src_id, CAST(sum(cosd) AS DOUBLE) / count(*) AS ax
      |       FROM rk WHERE rnx <= $MarginK GROUP BY 1),
      |ay AS (SELECT tgt_id, CAST(sum(cosd) AS DOUBLE) / count(*) AS ay
      |       FROM rk WHERE rny <= $MarginK GROUP BY 1)
      |SELECT src_id, tgt_id, CAST(cosd AS DOUBLE) AS cos_sim,
      |  round((CAST(cosd AS DOUBLE) * 2) / (ax + ay), 6) AS margin,
      |  round((CAST(cosd AS DOUBLE) * 2) / (ax + ay), 6) >= $MarginThreshold AS mined
      |FROM rk JOIN ax USING (src_id) JOIN ay USING (tgt_id)
      |WHERE rnx = 1 AND rny = 1
      |ORDER BY src_id""".stripMargin

  /** Cosine above which a corpus vector counts as contaminated by a
    * benchmark vector in q166 (same neighborhood scale as the 0.35
    * near-dup band, one notch looser so paraphrase-level
    * neighbors surface).
    */
  val SemDecontamTau = 0.3

  /** q166: SEMANTIC decontamination — the embedding-space complement of
    * q58's n-gram decontamination: a held-out benchmark set (the
    * `vec_id % 50 = 3` residue class, disjoint from every other
    * harness's query set) is swept against the corpus, and every corpus
    * vector whose cosine to ANY benchmark vector clears
    * [[SemDecontamTau]] is flagged with its strongest match. This is
    * the leakage check run before training on a crawled corpus when
    * paraphrased test items defeat exact n-gram matching.
    *
    * Scale: the benchmark side probes deep (probe-4) into the
    * materialized index while the corpus side stays at its home cell,
    * so the sweep is O(|bench|·occupancy); the per-vector strongest
    * match is a map-side struct-max, not a window.
    */
  def q166SemanticDecontam(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v"))
      .withColumn("nrm", norm($"v"))
    val bench = e.filter($"vec_id" % 50 === 3)
      .select($"vec_id".as("bench_id"), $"v".as("bv"), $"nrm".as("bn"))
    val cells = AnnIndex.cells(s, dir, "b", maxProbes = 4)
    val cb = cells.join(bench.select($"bench_id".as("vec_id")), Seq("vec_id"))
      .select($"vec_id".as("bench_id"), $"cell")
    val cc = cells.filter($"rn" === 1)
      .select($"vec_id", $"cell")
    cc.join(cb, Seq("cell"))
      .filter($"vec_id" =!= $"bench_id")
      .select($"vec_id", $"bench_id").distinct()
      .join(e, Seq("vec_id"))
      .join(bench, Seq("bench_id"))
      .select($"vec_id", $"bench_id",
        round(dot($"v", $"bv") / ($"nrm" * $"bn"), 6).as("cos_sim"))
      .filter($"cos_sim" >= SemDecontamTau)
      // strongest match per corpus vector: lexicographic struct-max on
      // (cos_sim, -bench_id) — partial-aggregates map-side, no window
      .groupBy($"vec_id")
      .agg(max(struct($"cos_sim", (-$"bench_id").as("nb"))).as("m"))
      .select($"vec_id", (-$"m.nb").as("bench_id"), $"m.cos_sim".as("cos_sim"))
      .orderBy($"vec_id")
  }

  private def q166Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$ivfDimsSql,
      |${ivfCbSql("b", "b")},
      |sc166 AS (
      |  SELECT e.vec_id, c.cid,
      |    round(list_dot_product(v, cv) /
      |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
      |  FROM e CROSS JOIN cb_b c),
      |cells166 AS (
      |  SELECT vec_id, cid AS cell, rn FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY csim DESC, cid ASC) AS rn
      |    FROM sc166) WHERE rn <= 4),
      |cand AS (
      |  SELECT DISTINCT cc.vec_id, cb2.vec_id AS bench_id
      |  FROM cells166 cc JOIN cells166 cb2 ON cc.cell = cb2.cell
      |  WHERE cc.rn = 1 AND cb2.vec_id % 50 = 3
      |    AND cc.vec_id <> cb2.vec_id),
      |hits AS (
      |  SELECT cand.vec_id, bench_id,
      |    round(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) *
      |       sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
      |  FROM cand
      |  JOIN e a ON a.vec_id = cand.vec_id
      |  JOIN e b ON b.vec_id = bench_id
      |  WHERE round(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) *
      |       sqrt(list_dot_product(b.v, b.v))), 6) >= $SemDecontamTau)
      |SELECT vec_id, bench_id, cos_sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cos_sim DESC, bench_id ASC) AS rn
      |  FROM hits) WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  /** Batch oracle for the STREAMING ANN server
    * ([[graft.streaming.StreamingOps.q167StreamAnnServe]]) — the
    * one-shot equivalent of its micro-batched serving loop: queries
    * route top-2 against the same salt-"b" codebook, corpus vectors sit
    * at their home cell, collisions exact-score, top-3 per query.
    * Public (not `private` like the sibling oracles) because the
    * streaming operator lives in another package and carries this SQL
    * as its `GraftQuery.oracle`.
    */
  def q167Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$ivfDimsSql,
      |${ivfCbSql("b", "b")},
      |sc167 AS (
      |  SELECT e.vec_id, c.cid,
      |    round(list_dot_product(v, cv) /
      |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
      |  FROM e CROSS JOIN cb_b c),
      |rr167 AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY csim DESC, cid ASC) AS rn
      |  FROM sc167),
      |corp AS (SELECT vec_id AS neighbor_id, cid AS cell FROM rr167 WHERE rn = 1),
      |qc AS (SELECT vec_id AS query_id, cid AS cell
      |       FROM rr167 WHERE rn <= 2 AND vec_id % 100 = 0),
      |hits AS (
      |  SELECT query_id, neighbor_id,
      |    round(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) *
      |       sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
      |  FROM qc JOIN corp USING (cell)
      |  JOIN e a ON a.vec_id = query_id
      |  JOIN e b ON b.vec_id = neighbor_id
      |  WHERE query_id <> neighbor_id)
      |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      |  FROM hits)
      |WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** q170: int8 scalar quantization (SQ8) — the OTHER production vector
    * compression beside PQ (q74): per-dimension symmetric scales
    * s_d = max|v_d| over the corpus, code_d = round(v_d/s_d·127) ∈
    * [-127,127], reconstruction code_d·s_d/127. 4× smaller than float32
    * at far higher fidelity than the 16-byte PQ code — the tier an ANN
    * serving stack keeps in RAM when PQ's recall ceiling (q75) bites
    * and re-ranking from full vectors (q137) is too much I/O. (q42
    * reports PER-VECTOR max-abs code stats; the scales here are
    * CORPUS-GLOBAL per-dimension — the form an index stores once and
    * every encoder/decoder shares.) At scale:
    * the scale vector is one 64-double broadcast from a scan-local
    * max-aggregate; encode/decode are scan-local `zip_with` maps —
    * zero shuffles beyond the 64-row dim reduce. Emits each vector's
    * reconstruction cosine, the direct gauge of what the 8-bit code
    * loses (≈1.0 here, vs PQ's 0.56 ADC ceiling).
    */
  def q170ScalarQuant(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", $"label", d($"embedding").as("v"))
    // per-dimension max|x|: posexplode → 64-group reduce → one ordered
    // array on the driver-side single row, broadcast to the encoder
    val scales = e
      .select(posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"pos").agg(greatest(max(abs($"x")), lit(1e-12)).as("sc"))
      .agg(array_sort(collect_list(struct($"pos", $"sc"))).as("ps"))
      .select(transform($"ps", p => p("sc")).as("scales"))
    e.crossJoin(broadcast(scales))
      .withColumn("r", zip_with($"v", $"scales",
        (x, sc) => round(x / sc * 127, 0) * sc / lit(127d)))
      .select($"vec_id", $"label",
        round(dot($"v", $"r") / (norm($"v") * norm($"r")), 6).as("cos_sq8"))
      .orderBy($"vec_id")
  }

  private def q170Sql =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$ivfDimsSql,
      |sc AS (SELECT i, greatest(max(abs(v[i])), 1e-12) AS sc
      |       FROM e CROSS JOIN dims GROUP BY i),
      |sarr AS (SELECT list(sc ORDER BY i) AS scales FROM sc),
      |rec AS (
      |  SELECT vec_id, label, v,
      |    list_transform(range(1, ${IvfDim + 1}),
      |      i -> round(v[i] / scales[i] * 127) * scales[i] / 127) AS r
      |  FROM e CROSS JOIN sarr)
      |SELECT vec_id, label,
      |  round(list_dot_product(v, r) /
      |    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(r, r))), 6) AS cos_sq8
      |FROM rec ORDER BY vec_id""".stripMargin

  /** q171: SQ8 retrieval recall — does searching ON the int8 codes
    * (q170's encoder, applied to query and corpus alike: the
    * symmetric-distance regime an in-RAM SQ8 index serves) return the
    * same neighbors as exact float search? Per sampled query
    * ([[AnnTruthQueryCap]] md5-ranked, q53's fixed set): top-5 under
    * SQ8-reconstructed cosine vs top-5 under exact cosine, overlap/5.
    * The counterpart of q75's PQ recall: SQ8's 4× compression should
    * hold recall ≈ 1.0 where the 16-byte PQ code ceilings at 0.56 —
    * measured, not assumed, before a serving tier trusts the cheaper
    * codes. Both arms are O(cap·n) broadcast scoring passes; the scale
    * vector is the same 64-double broadcast as q170.
    */
  def q171Sq8Recall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select($"vec_id", d($"embedding").as("v"))
    val scales = e
      .select(posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"pos").agg(greatest(max(abs($"x")), lit(1e-12)).as("sc"))
      .agg(array_sort(collect_list(struct($"pos", $"sc"))).as("ps"))
      .select(transform($"ps", p => p("sc")).as("scales"))
    val rec = e.crossJoin(broadcast(scales))
      .withColumn("r", zip_with($"v", $"scales",
        (x, sc) => round(x / sc * 127, 0) * sc / lit(127d)))
      .select($"vec_id", $"v", $"r",
        norm($"v").as("nrm"), norm($"r").as("rnrm"))
      .persist()
    val qset = rec.filter($"vec_id" % 100 === 0)
      .withColumn("mk", md5($"vec_id".cast("string")))
      .orderBy($"mk", $"vec_id").limit(AnnTruthQueryCap)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"r".as("qr"),
        $"nrm".as("qnrm"), $"rnrm".as("qrnrm"))
    val pairs = broadcast(qset)
      .crossJoin(rec.select($"vec_id".as("neighbor_id"), $"v", $"r", $"nrm", $"rnrm"))
      .filter($"query_id" =!= $"neighbor_id")
    val w = Window.partitionBy($"query_id").orderBy($"c".desc, $"neighbor_id".asc)
    def top5(scored: DataFrame): DataFrame = scored
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"query_id", $"neighbor_id")
    val truth = top5(pairs.select($"query_id", $"neighbor_id",
      round(dot($"qv", $"v") / ($"qnrm" * $"nrm"), 6).as("c")))
    val sq8 = top5(pairs.select($"query_id", $"neighbor_id",
      round(dot($"qr", $"r") / ($"qrnrm" * $"rnrm"), 6).as("c")))
    val hits = truth.join(sq8, Seq("query_id", "neighbor_id"))
      .groupBy($"query_id").agg(count(lit(1)).as("h"))
    qset.select($"query_id").join(hits, Seq("query_id"), "left")
      .select($"query_id",
        round(coalesce($"h", lit(0L)) / lit(5.0), 2).as("recall_at_5"))
      .orderBy($"query_id")
  }

  private def q171Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$ivfDimsSql,
      |sc AS (SELECT i, greatest(max(abs(v[i])), 1e-12) AS sc
      |       FROM e CROSS JOIN dims GROUP BY i),
      |sarr AS (SELECT list(sc ORDER BY i) AS scales FROM sc),
      |rec AS (
      |  SELECT vec_id, v,
      |    list_transform(range(1, ${IvfDim + 1}),
      |      i -> round(v[i] / scales[i] * 127) * scales[i] / 127) AS r
      |  FROM e CROSS JOIN sarr),
      |qset AS (SELECT vec_id AS query_id, v AS qv, r AS qr FROM rec
      |         WHERE vec_id % 100 = 0
      |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $AnnTruthQueryCap),
      |pairs AS (SELECT q.query_id, c.vec_id AS neighbor_id, q.qv, q.qr, c.v, c.r
      |          FROM qset q CROSS JOIN rec c WHERE q.query_id <> c.vec_id),
      |truth AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
      |    ORDER BY round(list_dot_product(qv, v) /
      |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) DESC,
      |      neighbor_id ASC) AS rk FROM pairs) WHERE rk <= 5),
      |sq8 AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
      |    ORDER BY round(list_dot_product(qr, r) /
      |      (sqrt(list_dot_product(qr, qr)) * sqrt(list_dot_product(r, r))), 6) DESC,
      |      neighbor_id ASC) AS rk FROM pairs) WHERE rk <= 5),
      |hits AS (SELECT t.query_id, count(*) AS h FROM truth t JOIN sq8 s
      |         ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
      |         GROUP BY t.query_id)
      |SELECT q.query_id, round(coalesce(h, 0) / 5.0, 2) AS recall_at_5
      |FROM qset q LEFT JOIN hits USING (query_id) ORDER BY query_id""".stripMargin

  /** q173: index drift gauge — the oracle-carried twin of [[AnnIndex]]'s
    * retrain trigger (`_drift` stats + appendBuild's decision rule,
    * AnnIndex.scala:377-415): a frozen base-trained codebook quantizes
    * each candidate batch, and the batch's mean nearest-centroid cosine
    * distance is compared against the base distribution's
    * max(p95, 2·mean) — above it, frozen-codebook appends would
    * silently degrade recall, so the decision is REBUILD; within it,
    * APPEND. Three sides make the rule observable end-to-end: the
    * clustered base itself (tight in-sample error), an in-distribution
    * delta (more members of the same clusters — lands under the 2×
    * guard), and a drifted delta (raw uniform-sphere corpus vectors,
    * near-orthogonal to every trained centroid — must trip REBUILD).
    * Mean is an
    * exact DECIMAL(18,6) sum of the rounded per-vector errors (no
    * float-summation-order dependence); p95 is the R-7 interpolated
    * percentile both engines share (q37's parity). At 100 TB the gauge
    * is one O(|batch|·k) scoring pass against the ≤2 MB broadcast
    * codebook — the cost of NOT running it is a silently degrading
    * index.
    */
  def q173DriftGauge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The gate corpus is ~uniform on the sphere — there, junk is
    // statistically indistinguishable from signal and NO quantization-
    // error gauge can see drift (AnnIndexSpec's observation). A
    // CLUSTERED base is what gives the gauge something to defend, so
    // build one deterministically FROM the corpus: 6 anchor vectors ×
    // 10 members each, perturbed by a tiny j-scaled all-ones shift —
    // nearest-centroid cosine ≈ 1, tight base stats.
    val raw = t(s, dir, "embeddings").select($"vec_id", d($"embedding").as("av"))
    val anchors = raw.filter($"vec_id" < 6)
    def members(lo: Int, hi: Int): DataFrame = anchors
      .crossJoin(s.range(lo, hi).toDF("j")) // bounded 6×10 product
      .select(($"vec_id" * 100 + $"j").as("vec_id"),
        transform($"av", x => x + lit(0.002) * $"j").as("v"))
      .withColumn("nrm", norm($"v"))
    val base = members(0, 10).persist()
    // the codebook is multi-referenced (base stats + all three sides'
    // scoring passes) — persist it or the Lloyd trainer re-runs per side
    val cb = ivfCodebookOf(s, base.select($"vec_id", $"v"), "c").persist()
    def errOf(set: DataFrame): DataFrame = set.crossJoin(broadcast(cb))
      .select($"vec_id",
        round(dot($"v", $"cv") / ($"nrm" * $"cnrm"), 6).as("csim"))
      .groupBy($"vec_id").agg((lit(1.0) - max($"csim")).as("err"))
    def meanOf(e: DataFrame, as: String) = e.agg(
      (sum($"err".cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double") / count(lit(1))).as(as))
    val baseErr = errOf(base).persist()
    val bstats = meanOf(baseErr, "bmean")
      .crossJoin(broadcast(baseErr.agg(
        expr("percentile(err, 0.95D)").as("bp95"))))
    // in-distribution growth: more members of the SAME clusters;
    // drifted batch: raw corpus vectors from elsewhere on the sphere,
    // near-orthogonal to every trained centroid
    val deltaIn = members(10, 20)
    val shifted = raw.filter($"vec_id" >= 100 && $"vec_id" < 140)
      .select($"vec_id", $"av".as("v")).withColumn("nrm", norm($"v"))
    // side() takes the ERROR frame so the base side reuses the persisted
    // baseErr instead of re-running its scoring pass
    def side(name: String, e: DataFrame): DataFrame =
      meanOf(e, "m").crossJoin(broadcast(bstats))
        .select(lit(name).as("side"),
          round($"m", 6).as("mean_err"),
          round(greatest($"bp95", $"bmean" * 2), 6).as("threshold"),
          when(lit(name) === "base", lit("base"))
            .when($"m" > greatest($"bp95", $"bmean" * 2), lit("rebuild"))
            .otherwise(lit("append")).as("decision"))
    side("base", baseErr)
      .unionByName(side("delta_indist", errOf(deltaIn)))
      .unionByName(side("delta_shifted", errOf(shifted)))
      .orderBy($"side")
  }

  private def q173Sql =
    s"""WITH anch AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS av
      |              FROM embeddings WHERE vec_id < 6),
      |e AS (
      |  SELECT anch.vec_id * 100 + j AS vec_id,
      |    list_transform(av, x -> x + CAST(0.002 AS DOUBLE) * j) AS v
      |  FROM anch CROSS JOIN (SELECT unnest(range(0, 10)) AS j)),
      |$ivfDimsSql,
      |${ivfCbSql("c", "c")},
      |sides AS (
      |  SELECT 'base' AS side, vec_id, v FROM e
      |  UNION ALL
      |  SELECT 'delta_indist', anch.vec_id * 100 + j,
      |    list_transform(av, x -> x + CAST(0.002 AS DOUBLE) * j)
      |  FROM anch CROSS JOIN (SELECT unnest(range(10, 20)) AS j)
      |  UNION ALL
      |  SELECT 'delta_shifted', vec_id, CAST(embedding AS DOUBLE[])
      |  FROM embeddings WHERE vec_id >= 100 AND vec_id < 140),
      |errs AS (
      |  SELECT side, vec_id,
      |    1.0 - max(round(list_dot_product(s.v, c.cv) /
      |      (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6))
      |      AS err
      |  FROM sides s CROSS JOIN cb_c c GROUP BY side, vec_id),
      |stats AS (
      |  SELECT side,
      |    CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
      |  FROM errs GROUP BY side),
      |bstats AS (
      |  SELECT CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS bmean,
      |    quantile_cont(err, 0.95) AS bp95
      |  FROM errs WHERE side = 'base')
      |SELECT side, round(m, 6) AS mean_err,
      |  round(greatest(bp95, bmean * 2), 6) AS threshold,
      |  CASE WHEN side = 'base' THEN 'base'
      |       WHEN m > greatest(bp95, bmean * 2) THEN 'rebuild'
      |       ELSE 'append' END AS decision
      |FROM stats CROSS JOIN bstats ORDER BY side""".stripMargin

  /** q175: 1-bit binary quantization — the last rung of the compression
    * ladder the engine now measures end-to-end (PQ 16-byte codes ceiling
    * at 0.56 recall / q75, SQ8 4× at ≈1.0 / q171, binary 32× measured
    * HERE): each 64-dim vector collapses to its sign bits, packed into
    * two 32-bit words carried as BIGINTs, and retrieval runs SYMMETRIC
    * Hamming — `bit_count(xor)` on the packed words, the popcount
    * kernel binary indexes serve from RAM. Encoding is a scan-local
    * projection (slice → indexed transform → fold; no shuffle, no
    * training, no codebook — the operational appeal of the 1-bit tier),
    * and per sampled query ([[AnnTruthQueryCap]], q53's fixed md5
    * sample) the gauge reports top-5-by-Hamming ∩ top-5-by-exact-cosine
    * — the measured price of 32× compression, beside q171's measured
    * near-zero price of 4×. At 100 TB the corpus side is one scan
    * producing 16 bytes/row of state; the per-query cost is a popcount
    * pass, O(cap·n) here and cell-local under the IVF index.
    */
  def q175BqRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings").select($"vec_id", d($"embedding").as("v"))
    // sign bits of dims [lo, lo+32) packed little-endian into one long:
    // distinct powers of two, so the fold's adds never carry (= bitwise OR)
    def word(lo: Int): Column = aggregate(
      transform(slice($"v", lo + 1, 32), (x, i) =>
        when(x >= 0d, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
    val coded = e.select($"vec_id", $"v", norm($"v").as("nrm"),
      word(0).as("w0"), word(32).as("w1")).persist()
    val qset = coded.filter($"vec_id" % 100 === 0)
      .withColumn("mk", md5($"vec_id".cast("string")))
      .orderBy($"mk", $"vec_id").limit(AnnTruthQueryCap)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"),
        $"w0".as("qw0"), $"w1".as("qw1"))
    val pairs = broadcast(qset)
      .crossJoin(coded.select($"vec_id".as("neighbor_id"), $"v", $"nrm", $"w0", $"w1"))
      .filter($"query_id" =!= $"neighbor_id")
    val wTruth = Window.partitionBy($"query_id").orderBy($"c".desc, $"neighbor_id".asc)
    val truth = pairs
      .select($"query_id", $"neighbor_id",
        round(dot($"qv", $"v") / ($"qnrm" * $"nrm"), 6).as("c"))
      .withColumn("rk", row_number().over(wTruth)).filter($"rk" <= 5)
      .select($"query_id", $"neighbor_id")
    val wHam = Window.partitionBy($"query_id").orderBy($"h".asc, $"neighbor_id".asc)
    val bq = pairs
      .select($"query_id", $"neighbor_id",
        (bit_count($"qw0".bitwiseXOR($"w0")) +
          bit_count($"qw1".bitwiseXOR($"w1"))).as("h"))
      .withColumn("rk", row_number().over(wHam)).filter($"rk" <= 5)
      .select($"query_id", $"neighbor_id")
    val hits = truth.join(bq, Seq("query_id", "neighbor_id"))
      .groupBy($"query_id").agg(count(lit(1)).as("h"))
    qset.select($"query_id").join(hits, Seq("query_id"), "left")
      .select($"query_id",
        round(coalesce($"h", lit(0L)) / lit(5.0), 2).as("recall_at_5"))
      .orderBy($"query_id")
  }

  private def q175Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |coded AS (
      |  SELECT vec_id, v,
      |    CAST(list_sum(list_transform(range(1, 33),
      |      i -> CASE WHEN v[i] >= 0 THEN (CAST(1 AS BIGINT) << (i - 1))
      |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
      |    CAST(list_sum(list_transform(range(33, 65),
      |      i -> CASE WHEN v[i] >= 0 THEN (CAST(1 AS BIGINT) << (i - 33))
      |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
      |  FROM e),
      |qset AS (SELECT vec_id AS query_id, v AS qv, w0 AS qw0, w1 AS qw1
      |         FROM coded WHERE vec_id % 100 = 0
      |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $AnnTruthQueryCap),
      |pairs AS (SELECT q.query_id, c.vec_id AS neighbor_id, q.qv, q.qw0, q.qw1,
      |                 c.v, c.w0, c.w1
      |          FROM qset q CROSS JOIN coded c WHERE q.query_id <> c.vec_id),
      |truth AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
      |    ORDER BY round(list_dot_product(qv, v) /
      |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) DESC,
      |      neighbor_id ASC) AS rk FROM pairs) WHERE rk <= 5),
      |bq AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
      |    ORDER BY bit_count(xor(qw0, w0)) + bit_count(xor(qw1, w1)) ASC,
      |      neighbor_id ASC) AS rk FROM pairs) WHERE rk <= 5),
      |hits AS (SELECT t.query_id, count(*) AS h FROM truth t JOIN bq b
      |         ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
      |         GROUP BY t.query_id)
      |SELECT q.query_id, round(coalesce(h, 0) / 5.0, 2) AS recall_at_5
      |FROM qset q LEFT JOIN hits USING (query_id) ORDER BY query_id""".stripMargin

  // ---------------------------------------------------------------- q219

  /** q219: Johnson–Lindenstrauss random projection — the
    * DIMENSIONALITY member of the compression ladder (PQ q74 encodes
    * cells, SQ8 q170 narrows scalars, BQ q175 keeps signs; JL keeps
    * fewer DIMENSIONS): a deterministic ±1 matrix (md5-parity entries —
    * the Achlioptas construction the JL guarantees cover) maps 64 → 16
    * dims, and the gauge measures exactly what the lemma promises to
    * preserve — pairwise distances, reported as the per-pair ratio
    * √(‖Rx−Ry‖²/16) / ‖x−y‖ over the fixed %100 sample. Arithmetic is
    * integer-exact end to end (the IvfQuant floor device: coordinates
    * quantize to 1e-6 longs, projections are signed integer sums, both
    * squared distances are exact longs); the only floats are the two
    * final sqrts, so both engines agree to the last bit before the one
    * rounded division. Scale: the matrix is a 1024-row broadcast, the
    * projection is one explode+agg pass — O(n·d_in·d_out) scan-shaped
    * with a single (vec_id, k) aggregation — and the gauge's pair
    * enumeration is over the O(1) fixed sample (≤128 vectors — the
    * %100 stride capped at vec_id 12800, the q53 fixed-sample rule),
    * never the corpus.
    */
  def q219JlProjection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = conv(substring(md5(concat(lit("jl:"), $"i".cast("string"),
      lit(":"), $"k".cast("string"))), 1, 8), 16, 10).cast("long")
    val R = s.range(0, 64).toDF("i")
      .crossJoin(s.range(0, 16).toDF("k")) // bounded 64×16 matrix build
      .select($"i", $"k", when(h % 2 === 0, 1L).otherwise(-1L).as("sgn"))
    val sampled = t(s, dir, "embeddings")
      .filter($"vec_id" % 100 === 0 && $"vec_id" < 12800)
      .select($"vec_id", transform($"embedding",
        x => floor(x.cast("double") * 1000000).cast("long")).as("vq"))
      .persist()
    val pv = sampled
      .select($"vec_id", posexplode($"vq").as(Seq("i", "x")))
      .join(broadcast(R), Seq("i"))
      .groupBy($"vec_id", $"k").agg(sum($"sgn" * $"x").as("p"))
      .persist()
    val dorig = sampled.select($"vec_id".as("a"), $"vq".as("va"))
      .join(sampled.select($"vec_id".as("b"), $"vq".as("vb")), $"a" < $"b")
      .select($"a", $"b",
        aggregate(zip_with($"va", $"vb", (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, z) => acc + z).as("d2o"))
    val dproj = pv.select($"vec_id".as("a"), $"k", $"p".as("pa"))
      .join(pv.select($"vec_id".as("b"), $"k", $"p".as("pb")), Seq("k"))
      .filter($"a" < $"b")
      .groupBy($"a", $"b")
      .agg(sum(($"pa" - $"pb") * ($"pa" - $"pb")).as("d2p"))
    dorig.join(dproj, Seq("a", "b"))
      .select($"a", $"b", $"d2o", $"d2p",
        when($"d2o" > 0,
          round(sqrt($"d2p" / lit(16.0)) / sqrt($"d2o".cast("double")), 6))
          .as("dist_ratio"))
      .orderBy($"a", $"b")
  }

  private val q219Sql =
    """WITH s AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(floor(x * 1000000) AS BIGINT)) AS vq
      |  FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 12800),
      |R AS (
      |  SELECT ii.i, kk.k,
      |    CASE WHEN ('0x' || substr(md5('jl:' || ii.i || ':' || kk.k), 1, 8))::BIGINT
      |           % 2 = 0
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM (SELECT unnest(range(0, 64)) AS i) ii
      |  CROSS JOIN (SELECT unnest(range(0, 16)) AS k) kk),
      |proj AS (
      |  SELECT s.vec_id, R.k, CAST(sum(R.sgn * s.vq[R.i + 1]) AS BIGINT) AS p
      |  FROM s CROSS JOIN R GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.vec_id AS a, b.vec_id AS b, a.vq AS va, b.vq AS vb
      |  FROM s a JOIN s b ON a.vec_id < b.vec_id),
      |dorig AS (
      |  SELECT a, b, CAST(list_sum(list_transform(range(1, 65),
      |    i -> (va[i] - vb[i]) * (va[i] - vb[i]))) AS BIGINT) AS d2o
      |  FROM pairs),
      |dproj AS (
      |  SELECT pa.vec_id AS a, pb.vec_id AS b,
      |    CAST(sum((pa.p - pb.p) * (pa.p - pb.p)) AS BIGINT) AS d2p
      |  FROM proj pa JOIN proj pb ON pa.k = pb.k AND pa.vec_id < pb.vec_id
      |  GROUP BY 1, 2)
      |SELECT d.a, d.b, d.d2o, p.d2p,
      |  CASE WHEN d.d2o > 0
      |    THEN round(sqrt(p.d2p / 16.0) / sqrt(CAST(d.d2o AS DOUBLE)), 6)
      |  END AS dist_ratio
      |FROM dorig d JOIN dproj p ON d.a = p.a AND d.b = p.b
      |ORDER BY d.a, d.b""".stripMargin

  // ---------------------------------------------------------------- q312

  /** q312 neighborhood size (the K in KNN-Shapley). */
  val ShapK = 5

  /** q312 test-set rule: a FIXED-SIZE md5-ranked panel of 20 held-out
    * test points (the q220 fixed-sample device) — the valuation matrix
    * is tests × train, so a corpus-proportional test rule would make
    * the exact arm quadratic at scale; a fixed panel keeps it linear
    * in the training corpus. */
  val ShapTestN = 20

  /** q312: KNN-SHAPLEY DATA VALUATION (Jia et al., "Efficient
    * Task-Specific Data Valuation for Nearest Neighbor Algorithms",
    * VLDB 2019) — per-EXAMPLE worth, the data-selection lens q162/q163
    * (distribution- and geometry-level) don't give: the exact Shapley
    * value of every training point for a K-NN surrogate classifier,
    * computable in closed form (the general Shapley value is
    * exponential; the K-NN structure collapses it to one sorted pass
    * per test point). Per test t, with training points ranked
    * nearest-first α₁..α_N: s(α_N) = 1[y=y_t]/N, then
    * s(αᵢ) = s(αᵢ₊₁) + (1[yᵢ=y_t] − 1[yᵢ₊₁=y_t])·min(K,i)/(K·i) —
    * a SUFFIX recursion, so it is one `lead` + one
    * current-to-unbounded-following window sum over the
    * distance-sorted partition; both engines evaluate the cumulative
    * sum in the SAME frame order, so the float trajectory is
    * IEEE-identical without decimal pinning (the pinning happens once,
    * at the cross-test aggregation: per-(test,train) values round(9)
    * into DECIMAL before the order-free sum). Distances are round(6)
    * cosine, tie-broken by train id. Scale: test points are
    * independent — the corpus-sized per-test sort parallelizes across
    * them (and production truncates the tail, where s decays as K/i;
    * here N is exact because the oracle must be).
    */
  def q312KnnShapley(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v"), $"label")
      .withColumn("nrm", norm($"v"))
      .persist()
    val tests = v
      .withColumn("mk", md5(concat(lit("shap:"), $"vec_id".cast("string"))))
      .orderBy($"mk", $"vec_id").limit(ShapTestN)
      .select($"vec_id".as("test_id"), $"v".as("tv"),
        $"nrm".as("tn"), $"label".as("ty"))
    val train = v
      .join(broadcast(tests.select($"test_id".as("vec_id"))),
        Seq("vec_id"), "left_anti")
      .select($"vec_id".as("train_id"), $"v", $"nrm", $"label")
      .persist()
    val nTrain = train.count()
    val scored = train.crossJoin(broadcast(tests))
      .select($"test_id", $"train_id", $"label",
        round(dot($"v", $"tv") / ($"nrm" * $"tn"), 6).as("csim"),
        when($"label" === $"ty", 1.0).otherwise(0.0).as("ind"))
    val wRank = Window.partitionBy($"test_id")
      .orderBy($"csim".desc, $"train_id".asc)
    // RUNNING (unbounded-preceding) frame + whole-partition total: the
    // suffix sum is total − prefix + current. A literal current-row →
    // unbounded-following frame would be O(n²) — Spark's
    // UnboundedFollowing frame re-aggregates per row (measured: 19 s at
    // sf0.1 vs ~4 s with this form); DECIMAL makes the two forms
    // exactly equal, so the oracle keeps the textbook suffix frame.
    val wPrefix = wRank
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPart = Window.partitionBy($"test_id")
    // per-term round(12) into DECIMAL before the window sums: engines
    // (and the two frame forms) disagree on float ADDITION ORDER, so
    // every summed term must be order-free — the q82 discipline
    // applied to a window aggregate
    val dec12 = org.apache.spark.sql.types.DecimalType(22, 12)
    val perPair = scored
      .withColumn("i", row_number().over(wRank).cast("long"))
      .withColumn("nxt", lead($"ind", 1).over(wRank))
      .withColumn("term",
        when($"nxt".isNull, lit(0.0)) // the αN base term is added below
          .otherwise(($"ind" - $"nxt") *
            least(lit(ShapK.toLong), $"i").cast("double") /
            (lit(ShapK.toDouble) * $"i")))
      .withColumn("term_dec", round($"term", 12).cast(dec12))
      .withColumn("tail_ind", // 1[y_{αN} = y_t] for every row
        max(when($"i" === nTrain, $"ind")).over(wPart))
      .withColumn("s_dec",
        sum($"term_dec").over(wPart) - sum($"term_dec").over(wPrefix) +
          $"term_dec" +
          round($"tail_ind" / lit(nTrain.toDouble), 12).cast(dec12))
    // stay in DECIMAL to the end: the final 8-dp cut is round() ON THE
    // EXACT DECIMAL (half-away-from-zero in both engines), never a
    // float round — a 12-dp-pinned sum CAN land exactly on an 8-dp
    // tie, where binary rounding disagrees with decimal rounding (and
    // a decimal CAST won't do either: DuckDB's rescale truncates)
    perPair
      .groupBy($"train_id", $"label")
      .agg(count(lit(1)).as("n_tests"),
        round(sum($"s_dec"), 8).cast("double").as("shapley"))
      .orderBy($"train_id")
  }

  private def q312Sql =
    s"""WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    label
      |  FROM embeddings),
      |nv AS (
      |  SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS nrm
      |  FROM v),
      |panel AS (
      |  SELECT vec_id FROM nv
      |  ORDER BY md5('shap:' || vec_id), vec_id LIMIT $ShapTestN),
      |tests AS (
      |  SELECT vec_id AS test_id, v AS tv, nrm AS tn, label AS ty
      |  FROM nv WHERE vec_id IN (SELECT vec_id FROM panel)),
      |train AS (
      |  SELECT vec_id AS train_id, v, nrm, label
      |  FROM nv WHERE vec_id NOT IN (SELECT vec_id FROM panel)),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_train FROM train),
      |scored AS (
      |  SELECT t.test_id, tr.train_id, tr.label,
      |    round(list_dot_product(tr.v, t.tv) / (tr.nrm * t.tn), 6) AS csim,
      |    CASE WHEN tr.label = t.ty THEN 1.0e0 ELSE 0.0e0 END AS ind
      |  FROM train tr CROSS JOIN tests t),
      |ranked AS (
      |  SELECT *,
      |    CAST(row_number() OVER w AS BIGINT) AS i,
      |    lead(ind, 1) OVER w AS nxt
      |  FROM scored
      |  WINDOW w AS (PARTITION BY test_id ORDER BY csim DESC, train_id)),
      |terms AS (
      |  SELECT *,
      |    CAST(round(CASE WHEN nxt IS NULL THEN 0.0e0
      |      ELSE (ind - nxt) * CAST(least($ShapK, i) AS DOUBLE)
      |           / (${ShapK}.0e0 * i) END, 12) AS DECIMAL(22,12)) AS term_dec
      |  FROM ranked),
      |suff AS (
      |  SELECT test_id, train_id, label,
      |    sum(term_dec) OVER ws
      |      + CAST(round(last_value(ind) OVER ws / (SELECT n_train FROM n),
      |          12) AS DECIMAL(22,12)) AS s_dec
      |  FROM terms
      |  WINDOW ws AS (PARTITION BY test_id ORDER BY csim DESC, train_id
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT train_id, label, CAST(count(*) AS BIGINT) AS n_tests,
      |  CAST(round(sum(s_dec), 8) AS DOUBLE) AS shapley
      |FROM suff
      |GROUP BY train_id, label
      |ORDER BY train_id""".stripMargin

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q312_knn_shapley", Seq("EXT-similarity", "EXT-curation"),
      "KNN-Shapley data valuation: closed-form exact Shapley values via one distance-sorted suffix-recursion window per test point, decimal-pinned cross-test sum",
      q312KnnShapley, Some(q312Sql)),
    GraftQuery("q222_silhouette", Seq("EXT-similarity", "EXT-approx"),
      "simplified-silhouette cluster quality over q91's k-means: centroid-distance a/b, decimal-exact per-cluster means",
      q222Silhouette, Some(q222Sql)),
    GraftQuery("q219_jl_projection", Seq("EXT-similarity", "EXT-approx"),
      "Johnson-Lindenstrauss 64->16 projection: md5-parity sign matrix, integer-exact distances, per-pair distortion gauge",
      q219JlProjection, Some(q219Sql)),
    GraftQuery("q175_bq_recall", Seq("EXT-similarity", "EXT-approx"),
      "1-bit binary quantization: sign bits packed into two 32-bit words, symmetric Hamming (popcount-xor) recall@5 vs exact cosine",
      q175BqRecall, Some(q175Sql)),
    GraftQuery("q173_drift_gauge", Seq("EXT-similarity", "EXT-streaming", "EXT-occ"),
      "index drift gauge: frozen-codebook quantization error of candidate batches vs the base max(p95, 2*mean) retrain threshold",
      q173DriftGauge, Some(q173Sql)),
    GraftQuery("q171_sq8_recall", Seq("EXT-similarity", "EXT-approx"),
      "SQ8 symmetric-code retrieval recall@5 vs exact cosine truth on the fixed query sample",
      q171Sq8Recall, Some(q171Sql)),
    GraftQuery("q170_scalar_quant", Seq("EXT-similarity", "EXT-approx"),
      "int8 scalar quantization: per-dim symmetric scales, encode/decode, per-vector reconstruction cosine",
      q170ScalarQuant, Some(q170Sql)),
    GraftQuery("q166_semantic_decontam", Seq("EXT-similarity", "EXT-dedup", "EXT-curation"),
      "semantic decontamination: benchmark residue class swept probe-4 against home cells, strongest match per vector",
      q166SemanticDecontam, Some(q166Sql)),
    GraftQuery("q165_bitext_margin", Seq("EXT-similarity", "EXT-curation"),
      "margin-based pair mining: mutual top-1 across label-parity sides, ratio margin over probe-3 cells",
      q165BitextMargin, Some(q165Sql)),
    GraftQuery("q164_hard_negatives", Seq("EXT-similarity", "EXT-curation"),
      "hard-negative mining: per-anchor top-k different-label neighbors from probe-2 index cells",
      q164HardNegatives, Some(q164Sql)),
    GraftQuery("q163_semdedup", Seq("EXT-similarity", "EXT-dedup", "EXT-curation"),
      "SemDeDup: index-cell clustering + within-cluster cosine prune, keep the least-prototypical member",
      q163SemDedup, Some(q163Sql)),
    GraftQuery("q292_incremental_semdedup", Seq("EXT-similarity", "EXT-dedup", "EXT-curation"),
      "O(delta) SemDeDup: frozen base codebook, additive removal partition; oracle runs the full union recompute — hash equality proves delta-selection == full",
      q292IncrementalSemdedup, Some(q292Sql)),
    GraftQuery("q161_index_append", Seq("EXT-similarity", "EXT-streaming"),
      "frozen-codebook incremental index append: base-trained IVF routing of a later delta batch",
      q161IndexAppend, Some(q161Sql)),
    GraftQuery("q74_pq_adc", Seq("EXT-similarity", "EXT-approx"),
      "product quantization + asymmetric-distance top-5 (4x16 codebooks)",
      q74PqAdc, Some(q74Sql)),
    GraftQuery("q75_pq_recall", Seq("EXT-similarity"),
      "PQ recall@5 vs exact same-metric L2 truth (pure quantization loss)",
      q75PqRecall, Some(q75Sql)),
    GraftQuery("q137_ivfpq", Seq("EXT-similarity", "EXT-approx"),
      "IVF-PQ (FAISS IVFADC shape): probe-2/probe-4 routing off the materialized index + code-only ADC, plus exact re-rank of the ADC shortlist (the production two-stage plan) — recall + candidate volume per variant",
      q137IvfPq, Some(q137Sql)),
    GraftQuery("q60_embedding_dedup", Seq("EXT-similarity", "EXT-dedup"),
      "embedding-cluster dedup: ANN pairs -> components -> canonical survivors",
      q60EmbeddingDedup, Some(q60Sql)),
    GraftQuery("q21_embedding_near_dup", Seq("EXT-similarity", "EXT-dedup"),
      "label-blocked embedding near-dup (IVF-shaped)", q21EmbeddingNearDup, Some(q21Sql)),
    GraftQuery("q22_ann_brute_force", Seq("EXT-similarity"),
      "brute-force cosine top-k baseline", q22AnnBruteForce, Some(q22Sql)),
    GraftQuery("q29_ann_lsh", Seq("EXT-similarity"),
      "random-hyperplane LSH ANN (banded signature buckets)", q29AnnLsh, Some(q29Sql)),
    GraftQuery("q45_ivf_ann", Seq("EXT-similarity"),
      "IVF ANN with a fixed-k Lloyd-trained codebook (cell-local search)",
      q45IvfAnn, Some(q45Sql)),
    GraftQuery("q53_ann_recall", Seq("EXT-similarity"),
      "recall@5 harness: every ANN variant judged against brute-force truth",
      q53AnnRecall, Some(q53Sql)),
    GraftQuery("q54_ivf_multiprobe", Seq("EXT-similarity"),
      "IVF multiprobe (top-2 cells, fixed-k trained codebook) near-dup pairs",
      q54IvfMultiprobe, Some(q54Sql)),
    GraftQuery("q91_kmeans_assign", Seq("EXT-similarity", "EXT-graph"),
      "2-iteration Lloyd k-means (k=5, exact-integer centroid means)",
      q91KmeansAssign, Some(q91Sql)),
    GraftQuery("q121_sparse_cosine", Seq("EXT-similarity", "EXT-text"),
      "sparse tf-idf cosine pairs via df-capped inverted-index join",
      q121SparseCosine, Some(q121Sql)))

  private val SparseDfCap = 50
  private val SparseCosMin = 0.6

  /** q121: SPARSE tf-idf cosine similarity — the third similarity
    * metric family next to set-Jaccard (q18/q19) and dense-embedding
    * cosine (q21/q22): documents as weighted bigram vectors, pairwise
    * cosine computed through an INVERTED-INDEX join (pairs meet only on
    * shared terms), never a doc×doc product. The df cap (<= 50 docs per
    * bigram) bounds per-term fan-out exactly like q18's shingle cap —
    * and defines the vector space: weights AND norms use the capped
    * vocabulary consistently, so the metric is exact over the space it
    * declares. Determinism: idf is libm ln ROUNDED to 8 digits before
    * use, weights are DECIMAL(18,8), every dot/norm reduction is an
    * exact decimal sum — the only doubles are one sqrt and one divide,
    * identical in both engines.
    */
  def q121SparseCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    // corpus size attaches as a broadcast 1-row aggregate (the q105/q114
    // scalar-attach idiom) — an eager docs.count() here would serialize a
    // full extra scan ahead of the real plan on every invocation
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = docs
      .select($"doc_id",
        explode(graft.functions.NativeExpressions.wordShingles($"text", 2))
          .as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      .filter($"df" <= SparseDfCap)
    val w = tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(nDocs))
      .select($"doc_id", $"term",
        round($"tf" * log($"n_docs" / $"df"), 8)
          .cast(DecimalType(18, 8)).as("w"))
      .persist()
    val norms = w.groupBy($"doc_id")
      .agg(sqrt(sum($"w" * $"w").cast("double")).as("nrm"))
    val pairs = w.as("a").join(w.as("b"), Seq("term"))
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(sum($"a.w" * $"b.w").cast("double").as("dot"))
    pairs
      .join(norms.select($"doc_id".as("doc_a"), $"nrm".as("na")), Seq("doc_a"))
      .join(norms.select($"doc_id".as("doc_b"), $"nrm".as("nb")), Seq("doc_b"))
      .select($"doc_a", $"doc_b", round($"dot" / ($"na" * $"nb"), 6).as("cosine"))
      .filter($"cosine" >= SparseCosMin)
      .orderBy($"doc_a", $"doc_b")
  }

  private val q121Sql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents),
      |bi AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
      |      AS term
      |  FROM toks WHERE len(t) >= 2),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |       FROM bi GROUP BY 1, 2),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |dfq AS (SELECT term, count(*) AS df FROM tf
      |        GROUP BY 1 HAVING count(*) <= $SparseDfCap),
      |-- DECIMAL(19,8): int128 storage; DuckDB multiplies decimals in the
      |-- operand width and w*w overflows int64 at DECIMAL(18,8)
      |w AS (
      |  SELECT doc_id, term,
      |    CAST(round(tf * ln(n_docs / df), 8) AS DECIMAL(19,8)) AS w
      |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
      |nrm AS (SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm
      |        FROM w GROUP BY 1),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(sum(a.w * b.w) AS DOUBLE) AS dot
      |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
      |FROM p
      |JOIN nrm na ON na.doc_id = doc_a
      |JOIN nrm nb ON nb.doc_id = doc_b
      |WHERE round(dot / (na.nrm * nb.nrm), 6) >= ${SparseCosMin}e0
      |ORDER BY doc_a, doc_b""".stripMargin

  private val KmK = 5 // seeds: vec_id 0,100,200,300,400
  private val KmDim = 64
  /** Centroid means are computed in EXACT integer arithmetic —
    * floor(x·1e6) summed as BIGINT, one final double divide — so both
    * engines derive bit-identical centroids with no float-summation-order
    * dependence (the [[graft.functions.Fns.exactSum2]] decimal trick,
    * integer-quantized because embedding components need 6 fractional
    * digits, not 2). Given identical centroids, the sequential-fold dot
    * products are IEEE-identical too, and round-6 distances hash-match.
    */
  private val KmQuant = 1e6

  /** q91: k-means cluster assignment — 2 deterministic Lloyd iterations
    * from fixed seeds (the real thing behind q45/q54's "at production
    * scale the seeds would come from k-means"). Each iteration is the
    * canonical distributed shape: broadcast the k centroids, one n·k
    * scoring pass in the scan projection (argmin via window over k rows
    * per vector), then a (cluster, dim)-keyed mean — the only shuffles
    * carry k·dim partial sums, never the vectors. At 100 TB this is
    * mini-batch-able per partition; the plan shape is unchanged.
    */
  def q91KmeansAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v")).persist()
    val seeds = e.filter($"vec_id" % 100 === 0 && $"vec_id" < KmK * 100)
      .select($"vec_id".as("cid"), $"v".as("cv"))

    def dist2(v: Column, cv: Column): Column =
      dot(v, v) - lit(2.0) * dot(v, cv) + dot(cv, cv)

    def assign(cent: DataFrame): DataFrame = {
      val w = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cid".asc)
      e.crossJoin(broadcast(cent))
        .select($"vec_id", $"v", $"cid", round(dist2($"v", $"cv"), 6).as("d2"))
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"vec_id", $"v", $"cid", $"d2")
    }

    def update(assigned: DataFrame): DataFrame =
      assigned.select($"cid", posexplode($"v"))
        .groupBy($"cid", $"pos")
        .agg((sum(floor($"col" * KmQuant).cast("long")).cast("double") /
          (count(lit(1)) * KmQuant)).as("m"))
        .groupBy($"cid")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          x => x("m")).as("cv"))

    val it1 = assign(seeds)
    val it2 = assign(update(it1))
    val finalAssign = assign(update(it2))
    finalAssign
      .select($"vec_id", $"cid".as("cluster"), $"d2".as("dist2"))
      .orderBy($"vec_id")
  }

  private val q91Sql = {
    def assignSql(cents: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, cid, d2 FROM (
         |    SELECT e.vec_id, c.cid,
         |      round(list_dot_product(e.v, e.v)
         |        - 2.0 * list_dot_product(e.v, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6) AS d2,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(list_dot_product(e.v, e.v)
         |          - 2.0 * list_dot_product(e.v, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6) ASC, c.cid ASC) AS rn
         |    FROM e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def updateSql(assigned: String, out: String) =
      s"""$out AS (
         |  SELECT cid, list(m ORDER BY i) AS cv FROM (
         |    SELECT a.cid, dims.i,
         |      CAST(sum(CAST(floor(e.v[dims.i] * ${KmQuant.toLong}) AS BIGINT))
         |        AS DOUBLE) / (count(*) * ${KmQuant.toLong}) AS m
         |    FROM $assigned a JOIN e ON e.vec_id = a.vec_id
         |    CROSS JOIN dims
         |    GROUP BY a.cid, dims.i)
         |  GROUP BY cid)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dims AS (SELECT unnest(range(1, ${KmDim + 1})) AS i),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e
       |       WHERE vec_id % 100 = 0 AND vec_id < ${KmK * 100}),
       |${assignSql("c0", "a1")},
       |${updateSql("a1", "c1")},
       |${assignSql("c1", "a2")},
       |${updateSql("a2", "c2")},
       |${assignSql("c2", "a3")}
       |SELECT vec_id, cid AS cluster, d2 AS dist2 FROM a3
       |ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- q222

  /** q222: simplified-silhouette cluster quality — the gauge that
    * decides whether q91's clusters are GOOD ENOUGH to drive
    * cluster-balanced sampling (q59/q189 mixture work) or need a larger
    * k. Full silhouette is O(n²) (mean distance to every point); the
    * simplified form (Hruschka et al.) replaces point-set means with
    * CENTROID distances — a = dist to own centroid, b = dist to the
    * nearest OTHER centroid, s = (b−a)/max(a,b) — and is the form any
    * 100 TB system actually runs: one broadcast-k scoring pass, shuffle
    * carries only per-cluster partials. Determinism end to end: d2 is
    * rounded at 6 (the q91 device), sqrt/divide are single IEEE ops,
    * each s_i is rounded then summed as DECIMAL(18,6) so the
    * per-cluster mean is order-independent and engine-exact.
    */
  def q222Silhouette(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .select($"vec_id", d($"embedding").as("v")).persist()
    val seeds = e.filter($"vec_id" % 100 === 0 && $"vec_id" < KmK * 100)
      .select($"vec_id".as("cid"), $"v".as("cv"))

    def dist2(v: Column, cv: Column): Column =
      dot(v, v) - lit(2.0) * dot(v, cv) + dot(cv, cv)
    def assign(cent: DataFrame): DataFrame = {
      val w = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cid".asc)
      e.crossJoin(broadcast(cent))
        .select($"vec_id", $"v", $"cid", round(dist2($"v", $"cv"), 6).as("d2"))
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"vec_id", $"v", $"cid", $"d2")
    }
    def update(assigned: DataFrame): DataFrame =
      assigned.select($"cid", posexplode($"v"))
        .groupBy($"cid", $"pos")
        .agg((sum(floor($"col" * KmQuant).cast("long")).cast("double") /
          (count(lit(1)) * KmQuant)).as("m"))
        .groupBy($"cid")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          x => x("m")).as("cv"))

    // final centroids (same 2 Lloyd rounds as q91), then ONE scoring
    // pass keeping the two nearest centroids per vector: rn=1 is the
    // assignment (a), rn=2 the nearest other centroid (b).
    val cents = update(assign(update(assign(seeds))))
    val w = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cid".asc)
    val scored = e.crossJoin(broadcast(cents))
      .select($"vec_id", $"cid", round(dist2($"v", $"cv"), 6).as("d2"))
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
    val ab = scored.groupBy($"vec_id").agg(
      min(when($"rn" === 1, $"cid")).as("cluster"),
      min(when($"rn" === 1, $"d2")).as("a2"),
      min(when($"rn" === 2, $"d2")).as("b2"))
    val si = ab.select($"cluster",
      round((sqrt($"b2") - sqrt($"a2")) /
        greatest(sqrt($"a2"), sqrt($"b2")), 6)
        .cast("decimal(18,6)").as("s"))
    si.groupBy($"cluster")
      .agg(count(lit(1)).as("n"),
        round(sum($"s").cast("double") / count(lit(1)), 6).as("mean_sil"),
        min($"s").cast("double").as("min_sil"),
        max($"s").cast("double").as("max_sil"))
      .orderBy($"cluster")
  }

  private val q222Sql = {
    def assignSql(cents: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, cid, d2 FROM (
         |    SELECT e.vec_id, c.cid,
         |      round(list_dot_product(e.v, e.v)
         |        - 2.0 * list_dot_product(e.v, c.cv)
         |        + list_dot_product(c.cv, c.cv), 6) AS d2,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(list_dot_product(e.v, e.v)
         |          - 2.0 * list_dot_product(e.v, c.cv)
         |          + list_dot_product(c.cv, c.cv), 6) ASC, c.cid ASC) AS rn
         |    FROM e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def updateSql(assigned: String, out: String) =
      s"""$out AS (
         |  SELECT cid, list(m ORDER BY i) AS cv FROM (
         |    SELECT a.cid, dims.i,
         |      CAST(sum(CAST(floor(e.v[dims.i] * ${KmQuant.toLong}) AS BIGINT))
         |        AS DOUBLE) / (count(*) * ${KmQuant.toLong}) AS m
         |    FROM $assigned a JOIN e ON e.vec_id = a.vec_id
         |    CROSS JOIN dims
         |    GROUP BY a.cid, dims.i)
         |  GROUP BY cid)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dims AS (SELECT unnest(range(1, ${KmDim + 1})) AS i),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e
       |       WHERE vec_id % 100 = 0 AND vec_id < ${KmK * 100}),
       |${assignSql("c0", "a1")},
       |${updateSql("a1", "c1")},
       |${assignSql("c1", "a2")},
       |${updateSql("a2", "c2")},
       |sc AS (
       |  SELECT vec_id, cid, d2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC)
       |      AS rn
       |  FROM (
       |    SELECT e.vec_id, c.cid,
       |      round(list_dot_product(e.v, e.v)
       |        - 2.0 * list_dot_product(e.v, c.cv)
       |        + list_dot_product(c.cv, c.cv), 6) AS d2
       |    FROM e CROSS JOIN c2 c)),
       |ab AS (
       |  SELECT vec_id,
       |    min(CASE WHEN rn = 1 THEN cid END) AS cluster,
       |    min(CASE WHEN rn = 1 THEN d2 END) AS a2,
       |    min(CASE WHEN rn = 2 THEN d2 END) AS b2
       |  FROM sc WHERE rn <= 2 GROUP BY vec_id),
       |si AS (
       |  SELECT cluster,
       |    CAST(round((sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2)), 6)
       |      AS DECIMAL(18,6)) AS s
       |  FROM ab)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
       |  round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS mean_sil,
       |  CAST(min(s) AS DOUBLE) AS min_sil,
       |  CAST(max(s) AS DOUBLE) AS max_sil
       |FROM si GROUP BY cluster ORDER BY cluster""".stripMargin
  }
}
