package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{FileTree, GraftQuery, Tables}
import graft.pipeline.ParquetIO

/** Change data feed over [[ParquetIO]]'s retained version history — the
  * row-level diff surface (Delta Lake's CDF / Snowflake STREAMS shape)
  * that turns "time travel exists" into an operator: consumers read
  * WHAT changed between two committed versions instead of re-scanning
  * and re-deriving it. The reference's incremental models get exactly
  * this from Snowflake table streams implicitly (models/marts
  * incremental strategy, dbt_project.yml:38-49); here it is computed
  * from the immutable version directories the commit protocol already
  * retains.
  *
  * Plan shape at 100 TB: ONE full-outer shuffle join on the key across
  * the two versions (broadcast-able when one side is a small dimension;
  * AQE handles the skewed-key case), then a NARROW per-row explode of
  * at most two change records — no window, no second pass. The
  * null-safe struct comparison (`<=>` on a packed struct of non-key
  * columns) keeps "did anything change" a single codegen'd predicate
  * regardless of column count.
  */
object ChangeFeed {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Row-level diff `oldDf -> newDf` keyed by `keys`. Emits one row per
    * change with `_change_type` ∈ insert | delete | update_preimage |
    * update_postimage, carrying the full row image (post for inserts,
    * pre for deletes, both — as two rows — for updates). Unchanged keys
    * (null-safe equality over ALL non-key columns) emit nothing. Both
    * inputs must share the schema; key columns must be non-null and
    * UNIQUE per side (the versioned-table contract this feed is
    * defined over — duplicate keys would cross-product in the
    * full-outer join, as in any keyed diff).
    */
  def diff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    val valCols = oldDf.columns.filterNot(keys.contains).toSeq
    def packed(df: DataFrame, as: String): DataFrame =
      df.select((keys.map(col) :+ struct(valCols.map(col): _*).as(as)): _*)
    val o = packed(oldDf, "_pre")
    val n = packed(newDf, "_post")
    // In a full-outer join the non-matched side's packed struct is NULL
    // (whereas a present row's struct is never null, its fields at worst)
    // - presence and image ride one column per side.
    val changed = o.join(n, keys, "full_outer")
      .filter(!(col("_pre") <=> col("_post"))) // unchanged rows exit here
      .withColumn("_ops",
        when(col("_pre").isNull,
          array(struct(lit("insert").as("t"), col("_post").as("img"))))
        .when(col("_post").isNull,
          array(struct(lit("delete").as("t"), col("_pre").as("img"))))
        .otherwise(array(
          struct(lit("update_preimage").as("t"), col("_pre").as("img")),
          struct(lit("update_postimage").as("t"), col("_post").as("img")))))
      .select(keys.map(col) :+ explode(col("_ops")).as("_op"): _*)
    val out: Seq[Column] = (col("_op.t").as("_change_type") +:
      keys.map(col)) ++ valCols.map(c => col(s"_op.img.`$c`").as(c))
    changed.select(out: _*)
  }

  /** [[diff]] between two retained versions of a [[ParquetIO]] table —
    * the time-travel read made consumable. Schemas may differ between
    * the versions (columns added or dropped by an evolved writer):
    * both sides are aligned to the UNION schema with nulls for the
    * missing columns before diffing, so an added column surfaces as an
    * update whose preimage carries null — the Delta-CDF schema
    * evolution contract.
    */
  def between(s: SparkSession, dir: String, fromV: Long, toV: Long,
      keys: Seq[String]): DataFrame = {
    val (o, n) = align(ParquetIO.readVersion(s, dir, fromV),
      ParquetIO.readVersion(s, dir, toV))
    diff(o, n, keys)
  }

  /** Project both frames onto the union of their columns (old's order,
    * then new-only columns), nulling what a side lacks — the evolved-
    * schema alignment [[between]] applies. Null type follows the side
    * that HAS the column.
    */
  private[graft] def align(oldDf: DataFrame, newDf: DataFrame): (DataFrame, DataFrame) = {
    val oldCols = oldDf.columns.toSeq
    val newCols = newDf.columns.toSeq
    val union = oldCols ++ newCols.filterNot(oldCols.contains)
    def proj(df: DataFrame, other: DataFrame) = df.select(union.map { c =>
      if (df.columns.contains(c)) col(c)
      else lit(null).cast(other.schema(c).dataType).as(c)
    }: _*)
    (proj(oldDf, newDf), proj(newDf, oldDf))
  }

  /** Compose two consecutive feeds — `first` = diff(A→B), `second` =
    * diff(B→C) — into the single canonical feed diff(A→C): the CDC-log
    * compaction a downstream consumer applies when it catches up over
    * many versions at once. Per key the net pre-image is A's (first's
    * pre if the key appears there, else second's — the key was silent
    * across A→B), the net post-image is C's (symmetrically), and the
    * emission rules are [[diff]]'s own: a delete re-inserted with an
    * identical image, or an insert deleted again, nets to NOTHING —
    * squash(diff(a,b), diff(b,c)) ≡ diff(a,c) exactly (property-locked
    * in ChangeFeedSpec, cross-engine-hashed by q176).
    *
    * Plan shape: each feed collapses to one row per key (groupBy on the
    * key — updates arrive as pre+post row pairs), then ONE full-outer
    * join and the same narrow explode as [[diff]]. O(changes), never
    * O(table).
    */
  def squash(first: DataFrame, second: DataFrame, keys: Seq[String]): DataFrame = {
    val valCols = first.columns.filterNot(c => keys.contains(c) || c == "_change_type").toSeq
    // one row per key: pre = image of the pre-side row (delete/update_
    // preimage), post = image of the post-side row (insert/update_
    // postimage); max() picks the single non-null struct per role
    def summarize(feed: DataFrame): DataFrame = feed
      .withColumn("_img", struct(valCols.map(col): _*))
      .groupBy(keys.map(col): _*)
      .agg(
        max(when(col("_change_type").isin("delete", "update_preimage"),
          col("_img"))).as("_pre"),
        max(when(col("_change_type").isin("insert", "update_postimage"),
          col("_img"))).as("_post"),
        lit(true).as("_present"))
    val f = summarize(first)
      .withColumnsRenamed(Map("_pre" -> "_pre1", "_post" -> "_post1", "_present" -> "_in1"))
    val g = summarize(second)
      .withColumnsRenamed(Map("_pre" -> "_pre2", "_post" -> "_post2", "_present" -> "_in2"))
    val net = f.join(g, keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        when(coalesce(col("_in1"), lit(false)), col("_pre1"))
          .otherwise(col("_pre2")).as("_pre"),
        when(coalesce(col("_in2"), lit(false)), col("_post2"))
          .otherwise(col("_post1")).as("_post")): _*)
      .filter(!(col("_pre") <=> col("_post"))) // net-nothing keys exit
      .withColumn("_ops",
        when(col("_pre").isNull,
          array(struct(lit("insert").as("t"), col("_post").as("img"))))
        .when(col("_post").isNull,
          array(struct(lit("delete").as("t"), col("_pre").as("img"))))
        .otherwise(array(
          struct(lit("update_preimage").as("t"), col("_pre").as("img")),
          struct(lit("update_postimage").as("t"), col("_post").as("img")))))
      .select(keys.map(col) :+ explode(col("_ops")).as("_op"): _*)
    val out: Seq[Column] = (col("_op.t").as("_change_type") +:
      keys.map(col)) ++ valCols.map(c => col(s"_op.img.`$c`").as(c))
    net.select(out: _*)
  }

  /** q174: the feed end-to-end through real table versions. Two
    * deterministic states of a customer dimension are committed as v1
    * and v2 (the GC retain window keeps both), chosen so every change
    * type occurs: keys in v2 only (`%7=0` excluded from v1) → insert,
    * keys in v1 only (`%5=0` excluded from v2) → delete, keys in both
    * with `%3=0` carrying a +100 balance adjustment → update pre+post
    * pairs, everything else unchanged and silent. The oracle computes
    * the identical diff relationally from the source table — a feed
    * that misses, duplicates, or mis-images any row breaks the hash.
    */
  def q174ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = t(s, dir, "customer")
    val oldState = cust.filter($"c_custkey" % 7 =!= 0)
      .select($"c_custkey", $"c_mktsegment".as("segment"), $"c_acctbal".as("bal"))
    val newState = cust.filter($"c_custkey" % 5 =!= 0)
      .select($"c_custkey", $"c_mktsegment".as("segment"),
        when($"c_custkey" % 3 === 0, $"c_acctbal" + 100d)
          .otherwise($"c_acctbal").as("bal"))
    val tmp = Files.createTempDirectory("graft-q174").resolve("cust").toString
    ParquetIO.overwriteSwap(oldState, tmp) // v1
    ParquetIO.overwriteSwap(newState, tmp) // v2; GcRetain keeps v1
    val out = between(s, tmp, 1L, 2L, Seq("c_custkey"))
      .orderBy($"c_custkey", $"_change_type")
    // materialize (bounded: O(changed keys)) before the temp table goes
    val rows = out.collect()
    FileTree.delete(java.nio.file.Paths.get(tmp).getParent)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Apply a feed to a base replica — the CONSUMER half of the CDC
    * contract: `apply(A, diff(A,B), keys) == B` for any states A, B
    * (and, with [[squash]], for any chain of versions in one pass).
    * Deletes and update preimages remove their keys; inserts and
    * update postimages land. Plan shape: one left-anti join on the
    * removed-or-replaced key set (broadcast-able — it is O(changes),
    * not O(table)) plus a union of the postimages; the replica is
    * touched exactly once.
    */
  def applyFeed(base: DataFrame, feed: DataFrame, keys: Seq[String]): DataFrame = {
    val touched = feed.select(keys.map(col): _*).distinct()
    val posts = feed
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type")
      .select(base.columns.map(col): _*) // align column order to the replica
    base.join(touched, keys, "left_anti").unionByName(posts)
  }

  /** q178: the consumer round trip, hash-proved — reconstruct the q176
    * chain's FINAL state by applying the squashed feed
    * squash(diff(S1,S2), diff(S2,S3)) onto the S1 replica. The oracle
    * simply SELECTS S3: if [[applyFeed]] drops a key it should keep,
    * keeps one it should drop, or lands a stale image, the hash
    * breaks. Together with q176 this closes the CDC algebra
    * end-to-end: produce (diff) → compact (squash) → consume (apply)
    * ≡ read the target state.
    */
  def q178FeedApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (s1, s2, s3) = chainStates(s, dir)
    val feed = squash(diff(s1, s2, Seq("c_custkey")), diff(s2, s3, Seq("c_custkey")),
      Seq("c_custkey"))
    applyFeed(s1, feed, Seq("c_custkey"))
      .orderBy($"c_custkey")
  }

  private val q178Sql =
    """SELECT c_custkey, c_mktsegment AS segment,
      |  c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 10 ELSE 0 END
      |            + CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS bal
      |FROM customer WHERE c_custkey % 4 IN (0, 2, 3)
      |ORDER BY c_custkey""".stripMargin

  /** Per-group aggregate DELTA of a feed — the incremental-view-
    * maintenance kernel: each feed row contributes its image SIGNED
    * (+1 for insert/update_postimage, −1 for delete/update_preimage),
    * so grouping the feed yields exactly the adjustment that moves a
    * materialized (count, sum) aggregate from the old state's answer
    * to the new one's — no base-table re-scan. Sums ride DECIMAL(18,2)
    * (the engine-wide exact-money discipline) so maintenance never
    * drifts from recompute. O(changes) — one groupBy over the feed.
    */
  def aggDelta(feed: DataFrame, groupCols: Seq[String], sumCol: String): DataFrame = {
    val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    feed.groupBy(groupCols.map(col): _*)
      .agg(
        sum(sign).as("d_count"),
        sum((sign * col(sumCol)).cast(DecimalType(18, 2))).as("d_sum"))
  }

  /** Merge an [[aggDelta]] into a materialized (count, sum) aggregate:
    * full-outer on the group key, add, drop groups whose maintained
    * count reaches zero (the group vanished from the state). The
    * maintained table is touched once; the delta side is O(changed
    * groups) and broadcast-able.
    */
  def maintainAgg(baseAgg: DataFrame, delta: DataFrame, groupCols: Seq[String],
      countCol: String, sumCol: String): DataFrame =
    baseAgg.join(delta, groupCols, "full_outer")
      .select(groupCols.map(col) ++ Seq(
        (coalesce(col(countCol), lit(0L)) + coalesce(col("d_count"), lit(0L)))
          .as(countCol),
        (coalesce(col(sumCol).cast(DecimalType(18, 2)), lit(0).cast(DecimalType(18, 2))) +
          coalesce(col("d_sum"), lit(0).cast(DecimalType(18, 2)))).as(sumCol)): _*)
      .filter(col(countCol) > 0)

  /** q179: incremental view maintenance, hash-proved — a per-segment
    * (count, balance-sum) aggregate materialized over S1 is maintained
    * to S3 purely from the squashed change feed ([[aggDelta]] +
    * [[maintainAgg]]): the 100 TB move where the base table is never
    * re-scanned and the maintenance cost is O(changes). The oracle
    * recomputes the aggregate DIRECTLY from S3 — maintenance and
    * recompute must agree to the cent or the hash breaks (exact
    * DECIMAL sums make that equality well-defined).
    */
  def q179IvmAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (s1, s2, s3) = chainStates(s, dir)
    val baseAgg = s1.groupBy($"segment").agg(
      count(lit(1)).as("n_customers"),
      sum($"bal".cast(DecimalType(18, 2))).as("total_bal"))
    val feed = squash(diff(s1, s2, Seq("c_custkey")), diff(s2, s3, Seq("c_custkey")),
      Seq("c_custkey"))
    maintainAgg(baseAgg, aggDelta(feed, Seq("segment"), "bal"),
      Seq("segment"), "n_customers", "total_bal")
      .select($"segment", $"n_customers",
        $"total_bal".cast("double").as("total_bal"))
      .orderBy($"segment")
  }

  private val q179Sql =
    """SELECT c_mktsegment AS segment, count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal
      |    + CASE WHEN c_custkey % 5 = 0 THEN 10 ELSE 0 END
      |    + CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END
      |    AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer WHERE c_custkey % 4 IN (0, 2, 3)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q176: feed composition — [[squash]]'s algebra hash-proved
    * cross-engine. Three deterministic states of the dimension are
    * chosen so every composition case occurs: continuity (k%4=0, in
    * all three — update iff the balance moved), net delete (k%4=1,
    * dropped by S3), delete-then-reinsert (k%4=2, absent ONLY from S2
    * — nets to an update when the image moved, to NOTHING when it
    * returned identical), net insert (k%4=3, absent from S1). The
    * query squashes diff(S1→S2) with diff(S2→S3); the oracle computes
    * diff(S1→S3) DIRECTLY — the two agree exactly or the composition
    * algebra is broken. Pure relational (no table writes): the feeds
    * collapse to one row per key and meet in one full-outer join.
    */
  def q176FeedSquash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (s1, s2, s3) = chainStates(s, dir)
    squash(diff(s1, s2, Seq("c_custkey")), diff(s2, s3, Seq("c_custkey")),
      Seq("c_custkey"))
      .orderBy($"c_custkey", $"_change_type")
  }

  /** The three deterministic dimension states the CDC-algebra queries
    * share (q176/q178/q179 and the streaming consumer q180): chosen so
    * every composition case occurs — continuity with updates (k%4=0),
    * net delete (k%4=1), delete-then-reinsert (k%4=2, netting to
    * nothing when the image returned identical), net insert (k%4=3) —
    * with `%5`/`%7` balance bumps staggering WHEN images move.
    */
  private[graft] def chainStates(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val cust = t(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment".as("segment"), $"c_acctbal")
    def state(residues: Seq[Int], plus5: Boolean, plus7: Boolean): DataFrame =
      cust.filter(($"c_custkey" % 4).isin(residues.map(Integer.valueOf): _*))
        .select($"c_custkey", $"segment",
          ($"c_acctbal" +
            (if (plus5) when($"c_custkey" % 5 === 0, 10d).otherwise(0d) else lit(0d)) +
            (if (plus7) when($"c_custkey" % 7 === 0, 100d).otherwise(0d) else lit(0d))
          ).as("bal"))
    (state(Seq(0, 1, 2), plus5 = false, plus7 = false),
      state(Seq(0, 1, 3), plus5 = true, plus7 = false),
      state(Seq(0, 2, 3), plus5 = true, plus7 = true))
  }

  private val q176Sql =
    """WITH s1 AS (
      |  SELECT c_custkey, c_mktsegment AS segment, c_acctbal AS bal
      |  FROM customer WHERE c_custkey % 4 IN (0, 1, 2)),
      |s3 AS (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |    c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 10 ELSE 0 END
      |              + CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS bal
      |  FROM customer WHERE c_custkey % 4 IN (0, 2, 3)),
      |j AS (
      |  SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
      |    o.segment AS oseg, o.bal AS obal, n.segment AS nseg, n.bal AS nbal,
      |    o.c_custkey IS NOT NULL AS has_o, n.c_custkey IS NOT NULL AS has_n
      |  FROM s1 o FULL OUTER JOIN s3 n ON o.c_custkey = n.c_custkey),
      |upd AS (
      |  SELECT * FROM j WHERE has_o AND has_n AND
      |    (oseg IS DISTINCT FROM nseg OR obal IS DISTINCT FROM nbal))
      |SELECT 'insert' AS _change_type, c_custkey, nseg AS segment, nbal AS bal
      |FROM j WHERE NOT has_o
      |UNION ALL
      |SELECT 'delete', c_custkey, oseg, obal FROM j WHERE NOT has_n
      |UNION ALL
      |SELECT 'update_preimage', c_custkey, oseg, obal FROM upd
      |UNION ALL
      |SELECT 'update_postimage', c_custkey, nseg, nbal FROM upd
      |ORDER BY c_custkey, _change_type""".stripMargin

  /** q177: schema evolution through the feed — v1 is committed WITHOUT
    * the segment column, v2 is committed with it (and a balance bump on
    * the `%5` class), and [[between]] aligns the versions to the union
    * schema before diffing: every surviving key surfaces as an update
    * whose PREIMAGE carries a null segment (the column did not exist at
    * v1), deletes carry null-segment images, inserts carry full ones.
    * The oracle constructs the same aligned diff with a typed NULL —
    * the cross-engine check that evolution produces principled nulls,
    * not dropped columns or failed reads.
    */
  def q177EvolvedFeed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = t(s, dir, "customer")
    val v1 = cust.filter($"c_custkey" % 2 === 0)
      .select($"c_custkey", $"c_acctbal".as("bal"))
    val v2 = cust.filter($"c_custkey" % 3 =!= 0)
      .select($"c_custkey",
        when($"c_custkey" % 5 === 0, $"c_acctbal" + 50d)
          .otherwise($"c_acctbal").as("bal"),
        $"c_mktsegment".as("segment"))
    val tmp = Files.createTempDirectory("graft-q177").resolve("cust").toString
    ParquetIO.overwriteSwap(v1, tmp) // v1: two columns
    ParquetIO.overwriteSwap(v2, tmp) // v2: evolved, three columns
    val out = between(s, tmp, 1L, 2L, Seq("c_custkey"))
      .orderBy($"c_custkey", $"_change_type")
    val rows = out.collect()
    FileTree.delete(java.nio.file.Paths.get(tmp).getParent)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  private val q177Sql =
    """WITH oldv AS (
      |  SELECT c_custkey, c_acctbal AS bal, CAST(NULL AS VARCHAR) AS segment
      |  FROM customer WHERE c_custkey % 2 = 0),
      |newv AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 50 ELSE c_acctbal END AS bal,
      |    c_mktsegment AS segment
      |  FROM customer WHERE c_custkey % 3 <> 0),
      |j AS (
      |  SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
      |    o.bal AS obal, o.segment AS oseg, n.bal AS nbal, n.segment AS nseg,
      |    o.c_custkey IS NOT NULL AS has_o, n.c_custkey IS NOT NULL AS has_n
      |  FROM oldv o FULL OUTER JOIN newv n ON o.c_custkey = n.c_custkey),
      |upd AS (
      |  SELECT * FROM j WHERE has_o AND has_n AND
      |    (obal IS DISTINCT FROM nbal OR oseg IS DISTINCT FROM nseg))
      |SELECT 'insert' AS _change_type, c_custkey, nbal AS bal, nseg AS segment
      |FROM j WHERE NOT has_o
      |UNION ALL
      |SELECT 'delete', c_custkey, obal, oseg FROM j WHERE NOT has_n
      |UNION ALL
      |SELECT 'update_preimage', c_custkey, obal, oseg FROM upd
      |UNION ALL
      |SELECT 'update_postimage', c_custkey, nbal, nseg FROM upd
      |ORDER BY c_custkey, _change_type""".stripMargin

  private val q174Sql =
    """WITH oldv AS (
      |  SELECT c_custkey, c_mktsegment AS segment, c_acctbal AS bal
      |  FROM customer WHERE c_custkey % 7 <> 0),
      |newv AS (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS bal
      |  FROM customer WHERE c_custkey % 5 <> 0),
      |j AS (
      |  SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
      |    o.segment AS oseg, o.bal AS obal, n.segment AS nseg, n.bal AS nbal,
      |    o.c_custkey IS NOT NULL AS has_o, n.c_custkey IS NOT NULL AS has_n
      |  FROM oldv o FULL OUTER JOIN newv n ON o.c_custkey = n.c_custkey),
      |upd AS (
      |  SELECT * FROM j WHERE has_o AND has_n AND
      |    (oseg IS DISTINCT FROM nseg OR obal IS DISTINCT FROM nbal))
      |SELECT 'insert' AS _change_type, c_custkey, nseg AS segment, nbal AS bal
      |FROM j WHERE NOT has_o
      |UNION ALL
      |SELECT 'delete', c_custkey, oseg, obal FROM j WHERE NOT has_n
      |UNION ALL
      |SELECT 'update_preimage', c_custkey, oseg, obal FROM upd
      |UNION ALL
      |SELECT 'update_postimage', c_custkey, nseg, nbal FROM upd
      |ORDER BY c_custkey, _change_type""".stripMargin

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q174_change_feed", Seq("S7", "S6", "EXT-occ", "EXT-streaming"),
      "change data feed between two retained table versions: full-outer key diff exploded into insert/delete/update pre+post images",
      q174ChangeFeed, Some(q174Sql)),
    GraftQuery("q176_feed_squash", Seq("S6", "EXT-occ", "EXT-cdc"),
      "CDC-log compaction: squash(diff(S1,S2), diff(S2,S3)) must equal the direct diff(S1,S3) — net-nothing roundtrips vanish",
      q176FeedSquash, Some(q176Sql)),
    GraftQuery("q177_evolved_feed", Seq("S7", "EXT-occ"),
      "schema evolution through the feed: union-schema alignment diffs a 2-column v1 against a 3-column v2, preimages carry typed nulls",
      q177EvolvedFeed, Some(q177Sql)),
    GraftQuery("q178_feed_apply", Seq("S6", "J4", "EXT-cdc", "EXT-occ"),
      "CDC consumer round trip: applying the squashed feed onto the S1 replica reconstructs S3 exactly (anti-join + postimage union)",
      q178FeedApply, Some(q178Sql)),
    GraftQuery("q179_ivm_agg", Seq("A2", "S6", "EXT-cdc", "EXT-occ"),
      "incremental view maintenance: signed feed deltas move a materialized (count, DECIMAL sum) aggregate from S1's answer to S3's without re-scanning the base",
      q179IvmAgg, Some(q179Sql)))
}
