package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, ArtifactStore, Dedup, GraphIndex, LshIndex, SuffixIndex, TrimIndex}
import graft.pipeline.ParquetIO

/** The one measurement harness for the materialized artifacts' O(delta)
  * claims and the scale claims: every scenario runs on the timed session
  * ([[Sessions.benchBuilder]]), times its phases with one [[TaskMeter]]
  * (wall seconds plus task-level `inputMetrics.bytesRead`), keeps its own
  * correctness checks, and prints one JSON line.
  *
  * Usage: runMain graft.Smoke <scenario> <srcSfDir> [K] [workDir] [queryRegex]
  *
  * `K` is the replica count (default per scenario below; scenarios
  * without one ignore it), `workDir` defaults to
  * /tmp/graft-smoke/<scenario>, and `queryRegex` filters the `scale`
  * query list. Scenarios:
  *  - `ann` (K=10): [[operators.AnnIndex]] full build over a K-replica
  *    corpus vs the frozen-codebook append of replica K;
  *  - `graph` (K=4): [[operators.GraphIndex]] build vs the delta-only
  *    edge derivation + anti-join + degree merge;
  *  - `lsh` (K=10): [[operators.LshIndex]] build vs signing the delta;
  *  - `trim`: [[operators.TrimIndex]] build vs a re-crawl batch;
  *  - `suffix`: [[operators.SuffixIndex]] build vs two re-crawl batches
  *    through the merge arm;
  *  - `suffix-skew`: the merge arm's collision bound on a boilerplate
  *    corpus at growing multiplicity;
  *  - `delta-select`: the O(delta) SemDeDup and DSIR selection arms vs
  *    the full recomputes, with verdict equality;
  *  - `occ` (K=10): compaction, clustering, OCC contention and
  *    merge-on-read vs copy-on-write;
  *  - `scale` (K=10): the iterative family and the artifact builds on a
  *    K-replica corpus.
  */
object Smoke {

  /** A JSON object with its fields in order. */
  private final case class Obj(fields: (String, Any)*)

  /** What a scenario runs with. */
  private final case class Ctx(spark: SparkSession, meter: TaskMeter, src: String,
      k: Int, work: String, pat: String)

  private val Scenarios: Seq[(String, Int, Ctx => Obj)] = Seq(
    ("ann", 10, ann), ("graph", 4, graph), ("lsh", 10, lsh),
    ("trim", 0, trim), ("suffix", 0, suffix), ("suffix-skew", 0, suffixSkew),
    ("delta-select", 0, deltaSelect), ("occ", 10, occ), ("scale", 10, scale))

  def main(args: Array[String]): Unit = {
    val usage = s"usage: graft.Smoke <${Scenarios.map(_._1).mkString("|")}> " +
      "<srcSfDir> [K] [workDir] [queryRegex]"
    val (name, defaultK, run) = Scenarios.find(s => args.headOption.contains(s._1))
      .getOrElse(sys.error(usage))
    def arg(i: Int, default: => String) = if (args.length > i) args(i) else default
    val src = arg(1, sys.error(usage))
    val spark = Sessions.benchBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      Sessions.warmUp(spark, src)
      val out = run(Ctx(spark, TaskMeter(spark), src, arg(2, defaultK.toString).toInt,
        arg(3, s"/tmp/graft-smoke/$name"), arg(4, ".*")))
      println(json(Obj(("scenario" -> name) +: out.fields: _*)))
    } finally spark.stop()
  }

  private def json(v: Any): String = v match {
    case Obj(fs @ _*) =>
      fs.map { case (k, x) => Verify.jsonString(k) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case s: String => Verify.jsonString(s)
    case d: Double => f"$d%.2f"
    case x => x.toString
  }

  /** Times a full build of `store` over `dir`. Any index left by a
    * previous run is dropped first, so `ensure` builds rather than taking
    * the fast-path listing.
    */
  private def build(c: Ctx, store: ArtifactStore, dir: String): TaskMeter.Measured[_] = {
    FileTree.delete(store.indexPathFor(dir))
    c.meter.measure(store.ensure(c.spark, dir))
  }

  /** Whether artifact table `t` took the hard-linked append arm since
    * version `before`: one version later, carrying `prev<before>_` links.
    */
  private def appendedFrom(t: String, before: Long): Boolean = {
    val v = ParquetIO.currentVersion(t).get
    val st = Files.list(Paths.get(ParquetIO.versionPath(t, v)))
    try v == before + 1 &&
      st.iterator().asScala.exists(_.getFileName.toString.startsWith(s"prev${before}_"))
    finally st.close()
  }

  private def lastArm(dir: String): String =
    Files.readString(SuffixIndex.indexPathFor(dir).resolve("_last_arm")).trim

  /** The source documents as a fresh single-replica corpus under
    * work/corpus.
    */
  private def freshCorpus(c: Ctx): (DataFrame, String) = {
    import c.spark.implicits._
    val base = Tables.load(c.spark, c.src, "documents").select($"doc_id", $"text")
    val dir = s"${c.work}/corpus"
    FileTree.delete(Paths.get(dir))
    base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (base, dir)
  }

  private def land(c: Ctx, df: DataFrame, dir: String, table: String): Unit =
    FileTree.landDelta(df, Paths.get(dir, s"$table.parquet"),
      Paths.get(c.work, s"scratch-$table"))

  /** ANN: the full O(n·k) train+route+assign pass, then ONE more
    * replica's embeddings landed in the same source directory (the
    * append-only growth `incrementalDelta` detects). The append routes
    * only the delta against broadcast codebooks, so it should read ~1/K
    * of the build's bytes plus the fixed codebook reads. `append_arm`
    * checks pq_codes grew by exactly |delta|·PqSubspaces without the
    * codebook version moving — a silent fall-through to the rebuild
    * would make the timing comparison vacuous.
    */
  private def ann(c: Ctx): Obj = {
    import c.spark.implicits._
    val dir = s"${c.work}/k${c.k}"
    buildScaled(c.spark, c.src, c.k, dir)
    val b = build(c, AnnIndex, dir)
    val codesDir = AnnIndex.tableDir(dir, "pq_codes")
    val cbDir = AnnIndex.tableDir(dir, s"codebook_${AnnIndex.Salts.head}")
    val codesBefore = ParquetIO.read(c.spark, codesDir).count()
    val cbVerBefore = ParquetIO.currentVersion(cbDir)
    // replica K by buildScaled's embeddings recipe
    val me = Tables.load(c.spark, dir, "embeddings")
      .agg(max($"vec_id")).first().getLong(0) + 1L
    val r = c.k % 64
    val rotated =
      if (r == 0) $"embedding"
      else concat(slice($"embedding", r + 1, 64 - r), slice($"embedding", 1, r))
    val permuted = if (c.k < 64) rotated else reverse(rotated)
    land(c, Tables.load(c.spark, c.src, "embeddings").select(
      ($"vec_id" + lit(c.k * me)).as("vec_id"), permuted.as("embedding"), $"label"),
      dir, "embeddings")
    val a = c.meter.measure(AnnIndex.ensure(c.spark, dir))
    val codesAfter = ParquetIO.read(c.spark, codesDir).count()
    val cbVerAfter = ParquetIO.currentVersion(cbDir)
    val deltaVecs = c.spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" >= c.k * me).count()
    val appendArm = cbVerBefore == cbVerAfter &&
      codesAfter - codesBefore == deltaVecs * operators.Similarity.PqSubspaces
    Obj("k" -> c.k, "src" -> c.src, "build_sec" -> b.sec, "append_sec" -> a.sec,
      "build_bytes" -> b.inputBytes, "append_bytes" -> a.inputBytes,
      "append_arm" -> appendArm, "codes" -> Seq(codesBefore, codesAfter))
  }

  /** Graph: K key-offset replicas of the two graph sources (the
    * [[buildScaled]] formulas, restricted to the columns the index
    * reads); the append derives edges from 1/K of the raw bytes plus one
    * scan of the compact edge artifact, never a raw rebuild.
    */
  private def graph(c: Ctx): Obj = {
    import c.spark.implicits._
    val ob = Tables.load(c.spark, c.src, "orders").select($"o_orderkey", $"o_custkey")
    val lb = Tables.load(c.spark, c.src, "lineitem").select($"l_orderkey", $"l_suppkey")
    val mo = ob.agg(max($"o_orderkey")).first().getLong(0) + 1L
    val mc = ob.agg(max($"o_custkey")).first().getLong(0) + 1L
    val ms = lb.agg(max($"l_suppkey")).first().getLong(0) + 1L
    def ordersRep(i: Int): DataFrame = ob.select(
      ($"o_orderkey" + i * mo).as("o_orderkey"), ($"o_custkey" + i * mc).as("o_custkey"))
    def lineitemRep(i: Int): DataFrame = lb.select(
      ($"l_orderkey" + i * mo).as("l_orderkey"), ($"l_suppkey" + i * ms).as("l_suppkey"))

    val dir = s"${c.work}/k${c.k}"
    (0 until c.k).map(ordersRep).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (0 until c.k).map(lineitemRep).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val b = build(c, GraphIndex, dir)
    val edgesT = GraphIndex.tableDir(dir, "edges")
    val vBefore = ParquetIO.currentVersion(edgesT).get
    val edgesBefore = ParquetIO.read(c.spark, edgesT).count()
    land(c, ordersRep(c.k), dir, "orders")
    land(c, lineitemRep(c.k), dir, "lineitem")
    val a = c.meter.measure(GraphIndex.ensure(c.spark, dir))
    val edgesAfter = ParquetIO.read(c.spark, edgesT).count()
    // replica K's edge set is key-disjoint from the base, so it must add
    // exactly edgesBefore / k rows
    val appendArm = appendedFrom(edgesT, vBefore) &&
      edgesAfter - edgesBefore == edgesBefore / c.k
    Obj("k" -> c.k, "src" -> c.src, "build_sec" -> b.sec, "append_sec" -> a.sec,
      "build_bytes" -> b.inputBytes, "append_bytes" -> a.inputBytes,
      "append_arm" -> appendArm, "edges" -> Seq(edgesBefore, edgesAfter))
  }

  /** LSH: K replicas of the documents; the append shingles/signs only the
    * delta (~1/K of the build's bytes).
    */
  private def lsh(c: Ctx): Obj = {
    import c.spark.implicits._
    val base = Tables.load(c.spark, c.src, "documents").select($"doc_id", $"text")
    val md = base.agg(max($"doc_id")).first().getLong(0) + 1L
    def rep(i: Int): DataFrame =
      base.select(($"doc_id" + i * md).as("doc_id"), $"text")
    val dir = s"${c.work}/k${c.k}"
    (0 until c.k).map(rep).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val b = build(c, LshIndex, dir)
    val bandsT = LshIndex.tableDir(dir, "bands")
    val vBefore = ParquetIO.currentVersion(bandsT).get
    val bandsBefore = ParquetIO.read(c.spark, bandsT).count()
    land(c, rep(c.k), dir, "documents")
    val a = c.meter.measure(LshIndex.ensure(c.spark, dir))
    val bandsAfter = ParquetIO.read(c.spark, bandsT).count()
    // replica K signs to exactly 1/K of the base's band rows
    val appendArm = appendedFrom(bandsT, vBefore) &&
      bandsAfter - bandsBefore == bandsBefore / c.k
    Obj("k" -> c.k, "src" -> c.src, "build_sec" -> b.sec, "append_sec" -> a.sec,
      "build_bytes" -> b.inputBytes, "append_bytes" -> a.inputBytes,
      "append_arm" -> appendArm, "bands" -> Seq(bandsBefore, bandsAfter))
  }

  /** ExactSubstr removal set: a re-crawl batch (every 10th doc
    * re-ingested under a new id — the q17 twin shape, the ingest cadence
    * the artifact exists for). The append must tokenize/gram/pair only
    * the delta against ONE scan of the compact posting artifact, never
    * re-tokenizing history.
    */
  private def trim(c: Ctx): Obj = {
    import c.spark.implicits._
    val (base, dir) = freshCorpus(c)
    val b = build(c, TrimIndex, dir)
    val remT = TrimIndex.tableDir(dir, "removed")
    val vBefore = ParquetIO.currentVersion(remT).get
    val remBefore = ParquetIO.read(c.spark, remT).count()
    land(c, base.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + Dedup.TwinOffset).as("doc_id"), $"text"), dir, "documents")
    val a = c.meter.measure(TrimIndex.ensure(c.spark, dir))
    val remAfter = ParquetIO.read(c.spark, remT).count()
    Obj("src" -> c.src, "build_sec" -> b.sec, "append_sec" -> a.sec,
      "build_bytes" -> b.inputBytes, "append_bytes" -> a.inputBytes,
      "append_arm" -> (appendedFrom(remT, vBefore) && remAfter > remBefore),
      "removed" -> Seq(remBefore, remAfter))
  }

  /** Suffix permutation: two re-crawl batches of POOL docs re-ingested
    * under new pool ids (deep window collisions up to fully identical
    * suffixes, the worst case for the merge's comparison kernel). Each
    * append must scan history once for its windows, never re-running a
    * doubling round over it, and take the merge arm; the second batch is
    * the q327 streaming cadence, whose bytes must stay O(base + delta)
    * rather than grow with the batches before it.
    */
  private def suffix(c: Ctx): Obj = {
    import c.spark.implicits._
    val (base, dir) = freshCorpus(c)
    val b = build(c, SuffixIndex, dir)
    val rT = SuffixIndex.tableDir(dir, "ranks")
    val nBefore = ParquetIO.read(c.spark, rT).count()
    // doc_id % SufMod == 0 is preserved, so the re-ingested docs stay in the pool
    def recrawl(residue: Int, offset: Int) = {
      land(c, base.filter($"doc_id" % (Dedup.SufMod * 10) === residue)
        .select(($"doc_id" + lit(Dedup.TwinOffset) * offset).as("doc_id"), $"text"),
        dir, "documents")
      (c.meter.measure(SuffixIndex.ensure(c.spark, dir)), lastArm(dir))
    }
    val (a1, arm1) = recrawl(0, 10)
    val nAfter = ParquetIO.read(c.spark, rT).count()
    val (a2, arm2) = recrawl(Dedup.SufMod * 3, 30)
    Obj("src" -> c.src, "build_sec" -> b.sec, "append_sec" -> a1.sec,
      "build_bytes" -> b.inputBytes, "append_bytes" -> a1.inputBytes,
      "append2_sec" -> a2.sec, "append2_bytes" -> a2.inputBytes,
      "append_arm" -> (arm1 == "merge" && arm2 == "merge"),
      "ranks" -> Seq(nBefore, nAfter),
      "kernel_rows" -> SuffixIndex.lastMergeKernelRows,
      "rounds" -> SuffixIndex.lastMergeRounds)
  }

  /** The suffix merge arm's collision BOUNDING on the adversarial corpus
    * class: one boilerplate string repeated k times across pool and
    * delta (license headers, templated docs — exactly what a dedup
    * pipeline ingests). An all-pairs kernel pairs every delta suffix
    * with every same-window suffix, k² rows on this corpus; the bounded
    * arm re-windows groups past [[operators.SuffixIndex.MergeCollisionCap]]
    * by doubling chunks, capping comparison rows at cap·|delta|. Per
    * level: the measured kernel rows next to the naive Σ ndel·(nt−1)
    * the unbounded kernel would have materialized.
    */
  private def suffixSkew(c: Ctx): Obj = {
    import c.spark.implicits._
    val boiler =
      ("all rights reserved redistribution and use in source and binary forms " +
        "with or without modification are permitted provided that " * 2).trim
    val levels = Seq(250, 500, 1000).map { k =>
      val dir = s"${c.work}/k$k"
      FileTree.delete(Paths.get(dir))
      val base = c.spark.range(1, k + 1)
        .select(($"id" * 10).as("doc_id"),
          concat(lit(s"$boiler tail "), $"id".cast("string")).as("text"))
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      build(c, SuffixIndex, dir)

      val delta = c.spark.range(1, k / 10 + 1)
        .select((lit(1000000L) + $"id" * 10).as("doc_id"),
          concat(lit(s"$boiler delta "), $"id".cast("string")).as("text"))
      // what the all-pairs kernel would have materialized: per
      // equal-window group, every delta suffix × every other member
      val w = (df: DataFrame) => df
        .select($"doc_id", explode(sequence(lit(1), length($"text"))).as("pos"),
          $"text")
        .select(expr(s"substring(text, pos, ${Dedup.SufBase})").as("g"))
      val naive = w(base).groupBy($"g").agg(count(lit(1)).as("cb"))
        .join(w(delta).groupBy($"g").agg(count(lit(1)).as("cd")), Seq("g"))
        .select(sum($"cd" * ($"cb" + $"cd" - 1))).head().getLong(0)

      land(c, delta, dir, "documents")
      val a = c.meter.measure(SuffixIndex.ensure(c.spark, dir))
      Obj("k" -> k, "append_sec" -> a.sec,
        "kernel_rows" -> SuffixIndex.lastMergeKernelRows, "naive_rows" -> naive,
        "rounds" -> SuffixIndex.lastMergeRounds, "arm" -> lastArm(dir))
    }
    Obj("levels" -> levels)
  }

  /** The O(delta) selection arms (q292/q293's production cadence) against
    * the full recomputes they replace. SemDeDup: FULL frozen-codebook
    * assign + all three pair-vote terms over the corpus, vs DELTA — route
    * only the delta batch, read the materialized base state, run only the
    * two delta-touching vote terms and union the stored verdicts. DSIR:
    * frozen model and materialized base scores; the delta arm featurizes
    * only the delta batch and re-cuts the global budget over the
    * score-table union. Both arms' verdict sets must be EQUAL, so the
    * timing comparison cannot drift from a semantics change.
    */
  private def deltaSelect(c: Ctx): Obj = {
    val spark = c.spark
    import spark.implicits._
    val S = operators.Similarity
    val work = c.work
    def emb = Tables.load(spark, c.src, "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(zip_with($"v", $"v", _ * _),
        lit(0.0), _ + _)))
    def base = emb.filter($"vec_id" % 10 =!= 7)
    def delta = emb.filter($"vec_id" % 10 === 7)

    // untimed: train the frozen codebook once and pin it — both arms
    // broadcast the same artifact, exactly as production (the codebook
    // lives in the index, not retrained per batch)
    val cb = S.ivfCodebookOf(spark, base.select($"vec_id", $"v"), "c")
      .localCheckpoint()

    val full = c.meter.measure {
      val baseA = S.semdedupAssign(spark, base, cb).persist()
      val deltaA = S.semdedupAssign(spark, delta, cb).persist()
      val unionA = baseA.unionByName(deltaA)
      val removed = S.semdedupRemovals(unionA, unionA).persist()
      val out = unionA.join(removed, unionA("vec_id") === removed("xid"), "left")
        .select(unionA("vec_id"), removed("xid").isNotNull.as("removed"))
        .as[(Long, Boolean)].collect().toMap
      baseA.unpersist(false); deltaA.unpersist(false); removed.unpersist(false)
      out
    }

    // untimed: materialize the base state production holds
    val baseA = S.semdedupAssign(spark, base, cb)
    baseA.write.mode("overwrite").parquet(s"$work/base_assign.parquet")
    val storedBaseA = spark.read.parquet(s"$work/base_assign.parquet")
    S.semdedupRemovals(storedBaseA, storedBaseA)
      .write.mode("overwrite").parquet(s"$work/base_removed.parquet")
    spark.catalog.clearCache()

    // the delta arm: delta routing + the two delta-touching vote terms +
    // stored verdicts; no corpus-wide pair work
    val incr = c.meter.measure {
      val dA = S.semdedupAssign(spark, delta, cb).persist()
      val bA = spark.read.parquet(s"$work/base_assign.parquet")
      val storedRemoved = spark.read.parquet(s"$work/base_removed.parquet")
      val unionA = bA.unionByName(dA)
      val removed = storedRemoved
        .unionByName(S.semdedupRemovals(unionA, dA))
        .unionByName(S.semdedupRemovals(dA, bA))
        .distinct().persist()
      val out = unionA.join(removed, unionA("vec_id") === removed("xid"), "left")
        .select(unionA("vec_id"), removed("xid").isNotNull.as("removed"))
        .as[(Long, Boolean)].collect().toMap
      dA.unpersist(false); removed.unpersist(false)
      out
    }
    require(full.value == incr.value,
      s"delta arm diverged from full recompute: " +
        s"${full.value.size} vs ${incr.value.size} verdicts, " +
        s"diff=${(full.value.toSet diff incr.value.toSet).take(5)}")

    val T = operators.TextAnalysis
    def docs = Tables.load(spark, c.src, "documents")
      .select($"doc_id", $"lang", $"text")
    val dbBase = T.dsirDocBuckets(docs.filter($"doc_id" % 10 =!= 7))
      .localCheckpoint()
    val lrFrozen = T.dsirModel(dbBase).localCheckpoint()
    val dFull = c.meter.measure {
      T.dsirKeepCut(spark, T.dsirScore(T.dsirDocBuckets(docs), lrFrozen))
        .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    }
    T.dsirScore(dbBase, lrFrozen)
      .write.mode("overwrite").parquet(s"$work/base_scores.parquet")
    spark.catalog.clearCache()
    val dIncr = c.meter.measure {
      val union = spark.read.parquet(s"$work/base_scores.parquet")
        .unionByName(T.dsirScore(
          T.dsirDocBuckets(docs.filter($"doc_id" % 10 === 7)), lrFrozen))
      T.dsirKeepCut(spark, union)
        .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    }
    require(dFull.value == dIncr.value,
      s"DSIR delta arm diverged: ${dFull.value.size} vs ${dIncr.value.size}")
    // honest note on the DSIR bytes at THIS scale: the corpus text is
    // small and snappy-compressed while the materialized score table is
    // 5 typed columns, so delta_bytes ≈ full_bytes here — the delta
    // win is the avoided base FEATURIZATION (the ~30×-row gram
    // explosion is compute, not input bytes): wall-clock shows it
    // (measured 5.9 s → 1.9 s). At production text:score byte ratios
    // (documents are KBs, a score row is ~40 B) the bytes ratio
    // follows the same direction.
    Obj("semdedup" -> Obj("full_sec" -> full.sec, "full_bytes" -> full.inputBytes,
        "delta_sec" -> incr.sec, "delta_bytes" -> incr.inputBytes,
        "n_vectors" -> full.value.size, "n_delta" -> full.value.keys.count(_ % 10 == 7),
        "equal" -> true),
      "dsir" -> Obj("full_sec" -> dFull.sec, "full_bytes" -> dFull.inputBytes,
        "delta_sec" -> dIncr.sec, "delta_bytes" -> dIncr.inputBytes,
        "n_docs" -> dFull.value.size, "equal" -> true))
  }

  /** The optimistic-concurrency layer ([[pipeline.ParquetIO]] CAS commits
    * + compaction), numbers rather than claims:
    *
    *  1. compaction at two scales (1 replica vs K, each landed as 64
    *     micro-batch shards): one narrow coalesce pass, so seconds should
    *     grow ~linearly with bytes while files drop 64 → ⌈bytes/target⌉;
    *     content checksums before/after must match. Plus the clustered
    *     variant's premium, and whether clustering buys read-time
    *     skipping on a 5%-selectivity range predicate.
    *  2. OCC contention: W writer threads × C commits of disjoint-key
    *     upserts through `transformConcurrent` on ONE table. Every lost
    *     claim is a rebase, so the gap between W·C·single-commit and the
    *     measured wall IS the protocol's contention price.
    *  3. merge-on-read UPSERT vs full-rewrite MERGE of the same 1%-of-keys
    *     batch: wall seconds and bytes written.
    *
    * The scratch tables under workDir are deleted at the end.
    */
  private def occ(c: Ctx): Obj = {
    val spark = c.spark
    import spark.implicits._
    val (k, work) = (c.k, c.work)
    def checksum(dir: String): Long =
      ParquetIO.read(spark, dir)
        .agg(sum(conv(substring(md5(concat_ws("|",
          $"doc_id".cast("string"), md5($"text"))), 1, 8), 16, 10)
          .cast("long")))
        .first().getLong(0)
    val docs = Tables.load(spark, c.src, "documents")
    val n = docs.count()
    def scaled(reps: Int): DataFrame = (0 until reps).map { r =>
      docs.select(($"doc_id" + lit(r * n)).as("doc_id"), $"text",
        $"lang", $"source", $"n_chars")
    }.reduce(_ unionByName _)

    // ---- 1. compaction at two scales --------------------------------
    def compactRun(reps: Int): (Double, ParquetIO.CompactionStats) = {
      val dir = s"$work/compact-x$reps/docs"
      ParquetIO.overwriteConcurrent(scaled(reps).repartition(64), dir)
      val before = checksum(dir)
      val m = c.meter.measure(ParquetIO.compact(spark, dir, targetBytes = 4L << 20))
      require(checksum(dir) == before, s"compact x$reps changed content!")
      (m.sec, m.value)
    }
    val (sec1, st1) = compactRun(1)
    val (secK, stK) = compactRun(k)

    // clustered variant on the K-scale table: pays one range shuffle +
    // sort for read-time data skipping — measure the premium over the
    // narrow coalesce rewrite
    val clDir = s"$work/compact-cl/docs"
    ParquetIO.overwriteConcurrent(scaled(k).repartition(64, $"text"), clDir)
    val beforeCl = checksum(clDir)
    val cl = c.meter.measure(ParquetIO.compact(
      spark, clDir, targetBytes = 4L << 20, clusterBy = Seq("doc_id")))
    val (secCl, stCl) = (cl.sec, cl.value)
    require(checksum(clDir) == beforeCl, "clustered compact changed content!")

    // ---- 1b. does clustering actually buy read-time skipping? -------
    // two 12-file layouts of the same K-scale table: hash-scattered
    // (every file spans the full doc_id domain) vs range-clustered
    // (disjoint per-file ranges); a 5%-selectivity range predicate
    // should read ~1/12 of the clustered bytes and ALL scattered bytes
    val skipPlain = s"$work/skip-plain/docs"
    val skipCl = s"$work/skip-cl/docs"
    ParquetIO.overwriteConcurrent(scaled(k).repartition(12), skipPlain)
    ParquetIO.overwriteConcurrent(scaled(k).repartition(12), skipCl)
    ParquetIO.compact(spark, skipCl,
      targetBytes = math.max(64L << 10, ParquetIO.tableBytes(skipCl) / 12),
      clusterBy = Seq("doc_id"))
    val rangeHi = ParquetIO.read(spark, skipPlain).count() / 20
    // aggregate over the WIDE text column so the measurement captures
    // data-column I/O (a bare count() reads only doc_id and column
    // pruning hides the layout difference)
    def rangeScan(dir: String) = c.meter.measure(ParquetIO.read(spark, dir)
      .filter($"doc_id" < rangeHi)
      .agg(sum(length($"text"))).first().getLong(0))
    val plain = rangeScan(skipPlain)
    val clustered = rangeScan(skipCl)
    require(plain.value == clustered.value, "skipping changed the answer!")

    // ---- 2. OCC contention ------------------------------------------
    val writers = 4
    val commits = 3
    val occDir = s"$work/occ/table"
    // single-writer baseline: one commit of the same shape, uncontended
    val soloSec = c.meter.measure {
      ParquetIO.transformConcurrent(spark, s"$work/occ/solo") {
        case _ => Seq.tabulate(1000)(i => (i, "seed")).toDF("k", "src")
      }
    }.sec
    val err = new AtomicReference[Throwable]()
    val occSec = c.meter.measure {
      val ts = (0 until writers).map { w =>
        new Thread(() => try {
          (0 until commits).foreach { cm =>
            val slice = Seq.tabulate(1000)(i => (i, s"w$w-c$cm"))
              .filter(_._1 % writers == w).toDF("k", "src")
            ParquetIO.transformConcurrent(spark, occDir, maxAttempts = 80) {
              case None       => slice
              case Some(base) =>
                base.join(slice, Seq("k"), "left_anti").unionByName(slice)
            }
          }
        } catch { case t: Throwable => err.compareAndSet(null, t) })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
    }.sec
    if (err.get() != null) throw err.get()
    val finalRows = ParquetIO.read(spark, occDir).count()
    require(finalRows == 1000, s"OCC lost keys: $finalRows != 1000")

    // ---- 3. merge-on-read UPSERT vs full-rewrite MERGE ---------------
    // same 1%-of-keys batch against the K-scale documents table: the
    // copy-on-write MERGE re-writes the whole table per batch, upsertMoR
    // writes O(batch) — wall seconds AND bytes written are the claim
    val morDir = s"$work/mor/docs"
    val cowDir = s"$work/cow/docs"
    ParquetIO.overwriteConcurrent(scaled(k).repartition(16), morDir)
    ParquetIO.overwriteConcurrent(scaled(k).repartition(16), cowDir)
    // batch derives from the IMMUTABLE source, not the target table: a
    // write to the target refreshes Spark's cache for that path, so a
    // target-derived lazy batch would re-evaluate over its own appended
    // rows (the upsertMoR contract)
    val batch = scaled(k)
      .filter($"doc_id" % 100 === 0)
      .withColumn("text", concat($"text", lit(" [rev2]"))).persist()
    batch.count()
    val bytesBeforeMor = ParquetIO.tableBytes(morDir)
    val morSec = c.meter.measure(ParquetIO.upsertMoR(spark, morDir, batch, Seq("doc_id"))).sec
    val morWritten = ParquetIO.tableBytes(morDir) - bytesBeforeMor
    val cowSec = c.meter.measure {
      ParquetIO.transformConcurrent(spark, cowDir) {
        case Some(base) =>
          base.join(batch.select($"doc_id"), Seq("doc_id"), "left_anti")
            .unionByName(batch)
        case None => batch
      }
    }.sec
    val cowWritten = ParquetIO.tableBytes(cowDir) // the rewrite IS the new version
    val morRows = ParquetIO.readMoR(spark, morDir)
    val cowRows = ParquetIO.read(spark, cowDir)
    require(morRows.count() == cowRows.count(),
      "MoR and CoW merges disagree on row count")
    require(morRows.filter($"text".endsWith("[rev2]")).count() ==
      cowRows.filter($"text".endsWith("[rev2]")).count(),
      "MoR and CoW merges disagree on updated rows")
    batch.unpersist()
    FileTree.delete(Paths.get(work))
    Obj("k" -> k, "src" -> c.src, "compact1_sec" -> sec1, "compactK_sec" -> secK,
      "compact1_files" -> Seq(st1.filesBefore, st1.filesAfter),
      "compactK_files" -> Seq(stK.filesBefore, stK.filesAfter),
      "compact1_bytes" -> st1.bytesBefore, "compactK_bytes" -> stK.bytesBefore,
      "clusteredK_sec" -> secCl, "clusteredK_files" -> Seq(stCl.filesBefore, stCl.filesAfter),
      "occ_writers" -> writers, "occ_commits" -> writers * commits,
      "occ_sec" -> occSec, "occ_solo_sec" -> soloSec,
      "mor_sec" -> morSec, "mor_bytes" -> morWritten,
      "cow_sec" -> cowSec, "cow_bytes" -> cowWritten,
      "range_read_plain_bytes" -> plain.inputBytes,
      "range_read_clustered_bytes" -> clustered.inputBytes)
  }

  /** The iterative graph/dedup family and the artifact builds on a
    * K-replica corpus ([[buildScaled]]; K=10 over sf0.1 is an sf~1-scale
    * corpus): seconds per query and per build — the measurement behind
    * the linear-scaling claims (records in CHANGES.md; plan shape says the
    * per-round cost is one join + keyed aggs; this checks the constant).
    */
  private def scale(c: Ctx): Obj = {
    val (spark, k, pat) = (c.spark, c.k, c.pat)
    val dir = s"${c.work}/k$k"
    buildScaled(spark, c.src, k, dir)

    // iterative graph family + the dedup/ANN family (round-6 verdict ask
    // #5): banded/blocked candidate generation should scale with the
    // collision rate, ~linearly — a blowup here falsifies the banding
    // story before production data would.
    val queries = Seq(
      "q89_pagerank", "q133_pagerank_deep", "q140_label_propagation",
      "q157_lpa_semi_sync", "q145_bfs_distance", "q134_cc_distributed",
      "q18_dedup_jaccard", "q19_dedup_minhash_lsh", "q121_sparse_cosine",
      "q53_ann_recall", "q137_ivfpq",
      // round-9 additions with linear expectation: winnowing + novelty
      // (gram streams, rotation keeps cross-replica collisions rare),
      // link prediction (replica-disjoint graphs), CEP + clamped ledger
      // (user-keyed windows, replica-disjoint users). q192/q201 are
      // deliberately EXCLUDED: replicas densify a fixed-area plane, so
      // fixed-radius neighbor volume grows ~k² by physics, not by plan
      // defect — their scale story is the plan shape + spec equality.
      "q186_winnow_fingerprints", "q190_ngram_novelty", "q191_adamic_adar",
      "q195_event_pattern", "q200_clamped_balance",
      // round-9 batch 5: peels are frontier-proportional per round
      // (q202 nodes, q208 edges — replica-disjoint graphs), PPJoin
      // candidates are bounded by prefix posting lists (the rotation
      // keeps them replica-local), skyline prunes through fixed-width
      // buckets, PMI is two scan-shaped aggs
      "q202_kcore_peel", "q208_ktruss_peel", "q204_ppjoin_exact",
      "q205_skyline", "q207_pmi_collocations",
      // round-9 batch 6: q212's CDF cells and q214's month table ride
      // the range-partitioned prefix device (P rows of local state at any
      // size); q211/q213/q217 are cell-bounded contingency/lattice
      // aggs; q215's FW-BW peel is frontier-proportional per round
      // (replicas share the calendar, so day-hub edges blend across
      // replicas — a k×-denser day, the honest growth mode for this
      // graph); q216 is a pure scan-shaped kernel pass. q218 is
      // EXCLUDED: its staged batches are fixed-size by construction
      // (6 anchors × 10), so it is scale-invariant, not scale-tested.
      "q211_chi2_independence", "q212_ks_test", "q213_info_gain",
      "q214_cusum_changepoint", "q215_scc", "q216_resize_thumb",
      "q217_grouping_sets",
      // round-9 batch 7: q219's distortion pairs ride a FIXED ≤128-vector
      // sample (O(1) truth at any scale — the q53 rule); q220 is one q18
      // pass + one q19 pass (collision-rate-bounded); q221's fact shuffle
      // is the only corpus-sized stage (grain merges move tiles×K longs);
      // q222/q223 are O(n·k)/O(n) scan-shaped; q224's per-round join is
      // neighborhood-sized (seeds grow with replicas, support is
      // replica-local); q225 is a 20-row stratum agg; q226 is two
      // rankings + a rank-keyed join. q227/q228 are EXCLUDED like q218:
      // staged-micro-batch harnesses whose fixed per-batch overhead
      // dominates at smoke scale (their state is kilobytes / calendar-
      // bounded by construction).
      "q219_jl_projection", "q220_lsh_quality", "q221_sketch_rollup",
      "q222_silhouette", "q223_mmd_drift", "q224_personalized_pagerank",
      "q225_neyman_allocation", "q226_quantile_normalize",
      // q229 rides the q19 band-bounded pair stream + a sources²-bounded
      // matrix agg; q230 is one scan-shaped O(n·17) argmax projection
      "q229_source_contamination", "q230_rendezvous_sharding",
      // round-9 batch 8 (mining): q232's graph aggregates to the FIXED
      // vocabulary (the token stream scans, the PageRank is V-sized);
      // q233 is one monthly rollup + scan-local folds; q234 is a pure
      // per-row byte kernel; q235's per-step join is frontier-sized
      // (walks scale with nodes, adjacency with edges); q236's weight
      // line is vocabulary-sized and the draw join is bucket-banded.
      // q231 itself is EXCLUDED (its exact arm is the test-scale
      // verification harness, quadratic by design) — the smoke times
      // the sketch-only production arm as q231_hyperball_sketch below.
      "q232_textrank", "q233_holt_forecast", "q234_wav_features",
      "q235_random_walks", "q236_negative_sampling",
      // round-9 batch 9: q237's pair stream is basket-bounded (baskets
      // replicate, never items²); q239 shuffles BIN tables (fixed
      // width) + per-feature bounded windows; q240 reduces to 9 moments
      // per nation; q241's windows are per-doc and its aggregates
      // vocabulary-sized; q242's gram tables are doc-length-bounded and
      // every join is keyed on doc id (replica-disjoint pairs).
      "q237_item_cf", "q239_decision_stump", "q240_quad_trend",
      "q241_rake_keyphrases", "q242_rouge_pairs",
      // round-9 batch 10: q243 is a scan-shaped per-row loop + 40-row
      // agg; q244's dictionary is the distinct-value set through the
      // P-row rank device; q245's posting arrays are df-bounded per
      // term (the 31-term synthetic vocab makes arrays grow k× — the
      // documented block-sharding case, timed honestly); q246 rides
      // the fixed query sample (O(cap·n) per truncation arm).
      "q243_hilbert_skipping", "q244_order_dict", "q245_posting_lists",
      "q246_matryoshka_recall",
      // round-9 batch 11: q249 is a scan-local encode over the distinct
      // vocabulary; q250's candidates are phonetic-block-bounded (the
      // LSH-banding cost shape). q247/q238 are staged-micro-batch
      // streaming harnesses, excluded like q218/q227/q228.
      "q249_soundex", "q250_phonetic_er",
      // round-9 batch 12: q253's hops are seed-capped inequality joins
      // (O(seeds · contacts-per-entity)); q254/q255 are one-shuffle
      // fact aggregations over bounded dimensions.
      "q253_temporal_reach", "q254_cluster_sample", "q255_topn_other",
      // round-9 batch 13: q256 is a build filter + as-of-tx filters;
      // q257's candidates are basket-bounded (brands³ per order) and
      // the prune semi-joins hit the bounded frequent-pair table.
      "q256_bitemporal", "q257_apriori_triples",
      // round-9 batch 14: q258 is five windowed sums in per-user
      // frames; q259 is one blocked census groupBy.
      "q258_rolling_ols", "q259_continuity_audit",
      // round-9 batch 15: q260 decorrelates to a per-nation ranked
      // join; q261's matrix is docs × query-terms (scan-shaped);
      // q262 is five integer sums over the edge list; q263's grid is
      // calendar × fixed bins.
      "q260_lateral_topk", "q261_qlm_dirichlet", "q262_assortativity",
      "q263_hist_quantile_tiles",
      // round-9 batch 16: q264's replicate table is R=32 at any scale;
      // q265 ranks within nations; q266's PAVA runs on the bounded bin
      // table; q267 is one scan + one user-keyed groupBy.
      "q264_poisson_bootstrap", "q265_gini_concentration",
      "q266_isotonic_calibration", "q267_als_half_step",
      // round-9 batch 17: q268/q269 are one fact scan into bounded cell
      // tables; q270 runs on the monthly grain; q271 is scan-local
      // array lambdas + a per-source rollup.
      "q268_cuped", "q269_diff_in_diff", "q270_seasonal_decomp",
      "q271_forcast_readability",
      // round-9 batch 18: q272's quantile runs on segment×bin tiles;
      // q273 rides the P-row global-prefix device over the distinct-
      // value grain; q274 is monthly-grain; q275 is one entity-keyed
      // aggregation over a 4-per-entity record universe.
      "q272_conformal_interval", "q273_mann_whitney",
      "q274_xmr_control_chart", "q275_golden_record",
      // round-9 batch 19: q276 is three range-partitioned rank passes;
      // q277/q278 run on the monthly grain; q279 is one fact scan into
      // a (brand, year) pivot.
      "q276_rfm_segmentation", "q277_acf", "q278_runs_test",
      "q279_price_volume_bridge",
      // round-9 batch 20: q280 is scan + 1-row attach + nation rollup;
      // q281 rides the prefix device on two distinct-value grains;
      // q282 is one rank pass into a 10-row walk; q283 is a
      // vocabulary-bounded rollup.
      "q280_theil_decomposition", "q281_spearman_rho",
      "q282_cumulative_gains", "q283_term_burstiness",
      // round-9 batch 21: q284/q285/q286 are single-pass conditional
      // aggregates / rule-bounded checks / brand-bounded intervals;
      // q287 is one prefix-device pass over the part grain.
      "q284_filter_clause", "q285_expectation_suite",
      "q286_wilson_interval", "q287_abc_classification",
      // round-9 batch 22: format round-trips — write + schema-declared
      // read-back + checksum, all scan-shaped.
      "q288_csv_roundtrip", "q289_jsonl_roundtrip",
      // round-10: q290's anchor grams are df-capped (the q18 rule) and
      // the letter rotation keeps anchors replica-local, so matches —
      // and the pair-local diagonal windows — grow ~k, not k².
      // q291's band buckets are 16-bit exact keys under the bucket cap
      // (collision-rate-bounded, the q19 shape); q292's pair work is
      // cell-local against the IvfK-bounded frozen codebook; q293 is
      // two scan-shaped gram passes + a 256-row broadcast + the
      // bounded-heap budget cut.
      "q290_exact_substring", "q291_image_dhash",
      "q293_incremental_dsir",
      // q294 = q291's shape on the audio lane (kernel scan + capped
      // 16-bit band buckets); q295 is a pure scan-shaped kernel pass
      // (the q216 shape); q296 is the q288/q289 round-trip shape over
      // the typed ORC sink
      "q294_audio_fingerprint", "q295_mp4_header", "q296_orc_roundtrip",
      // q297 rides the range-partitioned prefix device (P-row offsets);
      // q298/q299 are one bounded-domain groupBy each; q300 is one scan
      // + one content-hash shuffle
      "q297_sequence_packing", "q298_k_anonymity", "q299_dp_release",
      "q300_curation_funnel",
      // q301: band-bounded pairs + CC over the quotient graph (affected
      // labels + delta docs — replica-disjoint under the rotation)
      "q301_incremental_cc",
      // round-11: q302 is delta-derive + anti-join + degree merge (all
      // keyed); q303 signs only the delta and probes the band artifact;
      // q304's removal set is one row per removed token (df-capped span
      // mass), every join keyed on (doc_id, pos)
      // q292: both equivalence arms inside the SemDedupGaugeCap
      // md5-ranked slice since round 11 (the q220 treatment) — the
      // gauge cost is corpus-size-free; the production O(delta) arm is
      // the delta-select scenario's measurement
      "q292_incremental_semdedup",
      "q302_graph_append", "q303_lsh_index_probe", "q304_exactsubstr_trim",
      // q305: one kernel scan + a per-(frame,band) collision join —
      // the rotation keeps cross-replica frame hashes distinct
      "q305_video_near_dup",
      // q306: n-gram-count joins + the range-partitioned global rank
      // (never a single-partition window) — both linear-shaped
      "q306_ccnet_perplexity",
      // q307/q310 are the q306 shape (n-gram-count joins + GlobalRank
      // cut) with two models / KN fan-out tables respectively; q308's
      // candidate volume is exact-segment collision-bound (PassJoin —
      // measured 22k candidates for 55k strings at K=10)
      "q307_moore_lewis", "q308_edjoin", "q310_kneser_ney",
      // q311: log(maxlen) keyed rounds, each one equi-join + one
      // range-partitioned densify over n suffix rows — round count is
      // corpus-INDEPENDENT, so the ratio measures the per-round joins;
      // q312: the broadcast test set scales with the corpus (mod rule),
      // so the distance matrix grows 100× at 10× — the smoke documents
      // that the EXACT arm is quadratic in the sample rules by design
      "q311_suffix_ranks", "q312_knn_shapley",
      // q313: the corpus is touched once (length-bucket groupBy); the
      // Sinkhorn rounds run on bins²-sized frames, corpus-independent —
      // the ratio measures the one scan (row added per r11 verdict ask)
      "q313_sinkhorn_ot",
      // round-12: q314 composes base+delta gram chains (both df-capped,
      // the q290 shape); q315 is an artifact read + two (doc,pos)-keyed
      // window joins + survivor-only text extension; q316's corpus work
      // is one word-count scan (everything after runs on the
      // frequency-cut type table); q317 is two collision-bounded band
      // joins + a pair-keyed full-outer
      "q314_trim_append", "q315_suffix_lcp", "q316_unigram_lm",
      "q317_cross_modal_dup",
      // q318's closure is vocabulary-bounded (one corpus word-count
      // scan); q319 is one position explode + per-doc run windows
      "q318_unigram_encode", "q319_span_corruption",
      // q320: one q307-shaped scoring pass + DrmRounds filtered
      // groupBys over the persisted doc-stats frame (solver in-process
      // on |domains| rows); q321: count-table derivation + one
      // aggregation per EM iterate over the persisted held-out events
      "q320_doremi", "q321_jelinek_mercer",
      // round-13: q322 is window prefix-sums (one range shuffle) +
      // collision-bounded comparison joins; q323 is the q315 pair
      // machinery + per-doc interval unions (doc-partitioned windows)
      // + a pool-sized anchor arm from the committed grams artifact;
      // q324's corpus work is q318's one word-count scan (the
      // waterfilling is |langs|-row)
      "q322_suffix_merge", "q323_lcp_trim", "q324_tokenizer_unimax",
      // q325 rides q323's cover machinery + one char explode per pool doc
      "q325_lcp_rewrite",
      // round-14: q323/q325 now read the committed cover artifact, so
      // their ratios measure artifact read + anchor arm / char explode;
      // q326 is three artifact/broadcast-shaped sources + a touched-doc
      // char explode (untouched docs short-circuit to md5(text));
      // q327's first run pays the staged build+2-merge loop (the
      // maintenance cost itself — recorded as the honest number),
      // repeat runs read the committed result
      "q326_removal_scrub", "q327_stream_suffix_maintain",
      // q328: one groupBy over the committed ranks + a per-doc kernel
      // whose state is O(|doc|) positions + text — scan-shaped
      "q328_substring_complexity")
      .filter(_.matches(pat))
    // the ANN/graph/LSH queries read build-once indexes: time each build
    // as its OWN metric so query times measure search/probe, exactly as
    // production accounting would
    val builds = Seq[(String, ArtifactStore)](
      "ann_index_build" -> AnnIndex, "graph_index_build" -> GraphIndex,
      "lsh_index_build" -> LshIndex, "trim_index_build" -> TrimIndex,
      "suffix_index_build" -> SuffixIndex,
      "sem_codebook_build" -> operators.SemCodebook,
      "ulm_vocab_build" -> operators.UlmIndex, "ml_scores_build" -> operators.MlIndex)
      .map { case (name, store) => name -> c.meter.measure(store.ensure(spark, dir)).sec }
    // q267's long-pinned sufficient statistics are exact only while a
    // user's rating count keeps the scaled term sums under 2^53 (the
    // DECIMAL-parity bound is n_u ≈ 176, documented at the q267 site).
    // Measured tail (test tables, round 13): max lineitems/customer
    // = 84 at sf0.001, 93 at sf0.01, 105 at sf0.1 — headroom 1.7× at
    // the largest SF this smoke targets, but the tail GROWS with SF, so
    // a breach at sf1+ is plausible (ADVICE r12): on breach, SKIP the
    // q267 metric with a loud report instead of aborting the whole
    // smoke — the bound protects one query's exactness claim, not the
    // run.
    val maxNu = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    val q267Ok = maxNu <= 176L
    if (!q267Ok)
      System.err.println(
        s"[smoke] SKIPPING q267: max ratings/user $maxNu > 176 breaks " +
          "the long-sum exactness bound - move the five sufficient " +
          "statistics back to DECIMAL(28,12) sums before trusting q267 here")
    val extras: Seq[(String, (SparkSession, String) => DataFrame)] =
      Seq("q231_hyperball_sketch" -> operators.Mining.hyperballSketchOnly _)
        .filter(_._1.matches(pat))
    val times = (queries.filter(n => q267Ok || !n.startsWith("q267")).map(n =>
        n -> Registry.all.find(_.name == n).get.fn) ++ extras).map {
      case (name, fn) =>
        val m = c.meter.noopWrite(spark)(fn(spark, dir))
        m.value.get
        System.err.println(f"[smoke] $name: ${m.sec}%.2f s (k=$k)")
        name -> m.sec
    } ++ builds
    Obj("k" -> k, "src" -> c.src, "max_ratings_per_user" -> maxNu,
      "queries" -> Obj(times: _*))
  }

  // two independent 9-letter rotation groups: the composed bijection is
  // unique per replica for k <= 81 (a single group collides at i = 9,
  // which would make replica 9's text byte-identical to replica 0's and
  // bridge the dedup graph across replicas)
  private val Letters = "etaoinshr"
  private val Letters2 = "dlucmfwgy"

  /** K key-offset replicas of the tables the iterative family reads:
    *  - graph keys (orderkey / custkey / suppkey / doc_id) are offset per
    *    replica, so the customer–supplier graph grows K× in nodes and
    *    edges with the same degree distribution — components never
    *    bridge replicas;
    *  - document TEXT is passed through a per-replica letter rotation (a
    *    bijection, applied to the 18 most frequent letters), which
    *    preserves every within-replica near-dup relation exactly while
    *    making cross-replica shingle overlap negligible — so the dedup
    *    graph also scales ~K×, not quadratically (identical copies would
    *    form K-deep cross-replica clusters: K² the edges).
    */
  private def buildScaled(spark: SparkSession, src: String, k: Int, out: String): Unit = {
    import spark.implicits._
    def maxOf(t: String, c: String): Long =
      Tables.load(spark, src, t).agg(max(col(c))).first().getLong(0) + 1L

    val (mo, mc, ms, md) = (maxOf("orders", "o_orderkey"),
      maxOf("customer", "c_custkey"), maxOf("supplier", "s_suppkey"),
      maxOf("documents", "doc_id"))

    def replicate(t: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, t)
      (0 until k).map(i => f(base, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    // full orders schema: the stats-audit family (q211-q215, q217)
    // reads status/priority/price/date; value columns pass through, so
    // per-replica distributions are identical and drift/association
    // statistics stay comparable across scales
    replicate("orders", (df, i) => df.select(
      ($"o_orderkey" + i * mo).as("o_orderkey"),
      ($"o_custkey" + i * mc).as("o_custkey"),
      $"o_orderstatus", $"o_totalprice", $"o_orderdate", $"o_orderpriority"))
    // full lineitem schema: q237 pairs on l_partkey (offset with part),
    // q239 bins quantity/price/discount against the returnflag target —
    // value columns pass through so per-replica distributions and the
    // stump's split geometry stay scale-comparable
    val mp = maxOf("part", "p_partkey")
    replicate("lineitem", (df, i) => df.select(
      ($"l_orderkey" + i * mo).as("l_orderkey"),
      ($"l_partkey" + i * mp).as("l_partkey"),
      ($"l_suppkey" + i * ms).as("l_suppkey"),
      $"l_linenumber", $"l_quantity", $"l_extendedprice", $"l_discount",
      $"l_tax", $"l_returnflag", $"l_linestatus", $"l_shipdate"))
    replicate("part", (df, i) => df.select(
      ($"p_partkey" + i * mp).as("p_partkey"),
      $"p_name", $"p_brand", $"p_type", $"p_size", $"p_retailprice"))
    replicate("supplier", (df, i) => df.select(
      ($"s_suppkey" + i * ms).as("s_suppkey"),
      $"s_name", $"s_nationkey", $"s_acctbal"))
    // fixed dims shared by every replica (a k×-bigger world has the
    // same 25 nations): straight copies
    Seq("nation", "region").foreach { d =>
      Tables.load(spark, src, d)
        .write.mode("overwrite").parquet(s"$out/$d.parquet")
    }
    // c_mktsegment passes through: q233's per-segment series grow k× in
    // per-month mass with unchanged month count — the forecaster's
    // honest growth mode (more revenue, same calendar)
    // c_name/c_acctbal pass through (q260's lateral top-3 reads them);
    // cross-replica (acctbal, name) ties are possible but the smoke
    // only times, and the per-nation heap size is unchanged
    replicate("customer", (df, i) => df.select(
      ($"c_custkey" + i * mc).as("c_custkey"), $"c_nationkey",
      $"c_mktsegment", $"c_name", $"c_acctbal"))
    def rot(alpha: String, r: Int): String =
      alpha.drop(r % alpha.length) ++ alpha.take(r % alpha.length)
    replicate("documents", (df, i) => df.select(
      ($"doc_id" + i * md).as("doc_id"),
      translate(
        translate($"text", Letters, rot(Letters, i % Letters.length)),
        Letters2, rot(Letters2, (i / Letters.length) % Letters2.length))
        .as("text"),
      // letter rotation is length-preserving, so n_chars passes through
      // (q205 skyline reads it); source/lang pass through so per-source
      // strata (q225/q226/q229) grow k× in size with identical labels
      $"n_chars", $"source", $"lang"))
    // embeddings: per-replica DIMENSION ROTATION — a permutation applied
    // to both sides of any within-replica pair preserves every dot
    // product (and norm) EXACTLY, so the near-dup structure replicates
    // k×; cross-replica pairs see misaligned dims and decorrelate. The
    // vec_id stride is max+1 (2000 at sf0.1, a multiple of 100), so the
    // `vec_id % 100 = 0` query subset scales uniformly with the corpus.
    // rotation alone aliases at i = 64 (rot_64 = rot_0); composing a
    // REVERSAL (also a dot-preserving permutation) for the second block
    // of 64 keeps every replica's permutation distinct through k = 128
    // events: offset ids AND users per replica — users stay disjoint, so
    // sessions/ledgers replicate k× with identical per-user shapes (ts
    // passes through; the time range is shared, which is exactly how a
    // k×-bigger day of traffic looks)
    val mev = maxOf("events", "event_id")
    val mu = maxOf("events", "user_id")
    replicate("events", (df, i) => df.select(
      ($"event_id" + i * mev).as("event_id"), $"ts",
      ($"user_id" + i * mu).as("user_id"), $"event_type", $"value"))
    val me = maxOf("embeddings", "vec_id")
    replicate("embeddings", (df, i) => {
      require(i < 128, s"replica $i: only 128 distinct dim permutations defined")
      val r = i % 64
      val rotated =
        if (r == 0) $"embedding"
        else concat(slice($"embedding", r + 1, 64 - r), slice($"embedding", 1, r))
      val permuted = if (i < 64) rotated else reverse(rotated)
      df.select(($"vec_id" + i * me).as("vec_id"),
        permuted.as("embedding"), $"label")
    })
  }
}
