package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // trimmed-median-of-N per query: round 8 (CHANGES.md) showed ambient
    // machine load can inflate single reps 8× (q140 ran [69.4, 15.7, 28.5] s on the
    // driver vs ~5.4 s isolated), and a plain median-of-3 passes one bad
    // rep straight through. 5 reps with the max dropped bounds a single
    // contaminated rep's influence to zero and a second one's to the
    // median of the rest.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val spark = Sessions.benchBuilder(Sessions.cpus).getOrCreate()
    // ERROR, not WARN: the driver parses the JSON line out of a bounded
    // 2000-char stdout TAIL, and sbt relays the forked JVM's stderr into
    // that same stream ("[error] ... WARN ResolveWriteToStream ...").
    // Round 4 (CHANGES.md) was "parsed": null because the streaming
    // queries' per-run WARN flood landed AFTER the JSON line in the tail.
    spark.sparkContext.setLogLevel("ERROR")
    Sessions.warmUp(spark, sfDir)
    // Per-query task accounting (round-6 stretch ask, round-15 profiler
    // folded in): shuffle totals and the largest single-task shuffle read
    // (the skew indicator), plus jobs/stages/tasks, summed task run/CPU/
    // GC/fetch/scheduler time and the longest stages — every pass
    // explains its own time in bench_detail.json.
    val meter = TaskMeter(spark)

    // optional regex filter for iterating on individual queries
    val selected = args.headOption
      .map(p => Registry.all.filter(_.name.matches(p)))
      .getOrElse(Registry.all)
    val results: Seq[(String, Seq[Double], Int, Seq[TaskMeter.Measured[scala.util.Try[Unit]]])] =
      selected.map { q =>
        // noopWrite isolates each run: no predecessor's cache, and no
        // predecessor's garbage (r03: q32 measured 5-7 s mid-registry vs
        // 1.3 s isolated)
        val attempts = (1 to reps).map(_ => meter.noopWrite(spark)(q.fn(spark, sfDir)))
        // a failed run must NOT fold its near-zero elapsed time into the
        // median — a broken query would read as a dramatic speedup
        attempts.foreach(_.value.failed.foreach(e =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")))
        val runs = attempts.filter(_.value.isSuccess).map(_.sec)
        if (sys.env.contains("SPARK_GRAFT_BENCH_DEBUG"))
          System.err.println(s"[bench-debug] ${q.name} runs: " +
            runs.map(r => f"$r%.2f").mkString(", "))
        (q.name, runs, attempts.size - runs.size, attempts)
      }
    spark.catalog.clearCache()
    // all-runs-failed -> sentinel -1 so a breakage is unmistakable in the
    // emitted JSON (not just on stderr). TRIMMED median: the single worst
    // rep is dropped before taking the median (>=3 runs), so one
    // load-spike rep can no longer drag the reported number — the
    // contamination mode that inflated round 8 2-5× on the graph family.
    def median(xs: Seq[Double]): Double = {
      if (xs.isEmpty) return -1.0
      val s0 = xs.sorted
      val s = if (s0.size >= 3) s0.dropRight(1) else s0
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def minOf(xs: Seq[Double]): Double = if (xs.isEmpty) -1.0 else xs.min
    def fmt(d: Double): String = BigDecimal(d)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Short ids ("q01") and 2-decimal medians on stdout: the tail buffer
    // is 2000 chars and sbt appends its own [success] line; at 126+
    // queries even short ids with 3 decimals flirt with the limit.
    // Full-name 3-decimal medians live in the sidecar with per-run arrays.
    def fmt2(d: Double): String = BigDecimal(d)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    // bare numeric ids ("01") and a basename sf: at 142 queries the line
    // with "qNN" ids measured 1997 chars — the driver's 2000-char stdout
    // tail must hold the line PLUS sbt's trailing [success] line, so
    // every saved byte is margin (full names live in bench_detail.json)
    def shortId(name: String): String =
      name.takeWhile(_ != '_').stripPrefix("q")
    val shortIds = results.map(r => shortId(r._1))
    require(shortIds.distinct.size == shortIds.size,
      "bench short ids collide: " +
        shortIds.diff(shortIds.distinct).distinct.mkString(","))
    def qsAt(scale: Int): String = results.map { case (k, v, _, _) =>
      s"\"" + shortId(k) + "\":" + BigDecimal(median(v))
        .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
    }.mkString("{", ",", "}")
    val qs = qsAt(2)
    val mediansFull = results.map { case (k, v, _, _) =>
      s"\"" + k + "\":" + fmt(median(v))
    }.mkString("{", ",", "}")
    val runsJson = results.map { case (k, v, _, _) =>
      s"\"" + k + "\":" + v.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val minsJson = results.map { case (k, v, _, _) =>
      s"\"" + k + "\":" + fmt(minOf(v))
    }.mkString("{", ",", "}")
    val errJson = results.filter(_._3 > 0)
      .map { case (k, _, e, _) => s"\"" + k + "\":" + e }.mkString("{", ",", "}")
    val total = results.map(r => math.max(median(r._2), 0.0)).sum
    // The driver captures only a bounded TAIL of stdout and parses the one
    // JSON line from it. r03's line carried the full per-run arrays (~6 KB
    // for 68 queries) and overflowed that buffer -> "parsed": null
    // (CHANGES.md). Keep the printed line compact (medians only); the per-run
    // arrays go to a sidecar file for human inspection instead.
    // shuffle bytes per ATTEMPT: failed runs' bytes are metered too, so
    // dividing by successes alone would inflate per-run shuffle for
    // exactly the queries that are breaking
    val shuffleJson = results.map { case (k, _, _, ms) =>
      def perRun(f: TaskMeter.Stage => Long) = ms.map(_.sum(f)).sum / ms.size
      s"\"" + k + s"\":{\"write\":${perRun(_.shuffleWrite)},\"read\":${perRun(_.shuffleRead)}," +
        s"\"maxTaskRead\":${ms.flatMap(_.stages.map(_.maxTaskRead)).maxOption.getOrElse(0L)}}"
    }.mkString("{", ",", "}")
    // task sums and top stages of the last rep: one execution's jobs,
    // stages and where their task time went
    val tasksJson = results.map { case (k, _, _, ms) =>
      s"\"" + k + "\":" + ms.last.json
    }.mkString("{", ",", "}")
    val detail =
      s"""{"medians":$mediansFull,"mins":$minsJson,"runs":$runsJson,"errors":$errJson,"shuffle":$shuffleJson,"tasks":$tasksJson,"reps":$reps,"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_detail.json"), detail)
      // round-stamped copy (VERDICT r13 "What's wrong" #3: the driver's
      // per-round pass overwrites the live sidecar, losing the builder's
      // closing-pass record) — the builder sets SPARK_GRAFT_BENCH_STAMP
      // to e.g. bench_detail_r15.json for passes that must survive
      sys.env.get("SPARK_GRAFT_BENCH_STAMP").foreach(f =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(f), detail))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    // "errors" is ALWAYS present (12 chars when empty): downstream parsers
    // may read obj["errors"] unconditionally, as the pre-r04 format allowed.
    val sfShort = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    // stop() BEFORE the println: the JSON line must be the forked JVM's
    // very last output so nothing (executor shutdown chatter, late stderr
    // relayed by sbt) can push it out of the driver's 2000-char tail.
    spark.stop()
    // The line plus sbt's trailing "[success] ..." must fit in the 2000-char
    // tail with margin: 2-decimal medians normally; degrade to 1 decimal if
    // the registry outgrows that (full 3-decimal medians live in the
    // sidecar either way); fail loudly only if even that overflows.
    // Contamination exposure (round-8 verdict ask): per-query min is the
    // load-robust estimator, so the printed artifact carries (a)
    // minTotal — the clean-machine bound for the whole registry — and
    // (b) a "noisy" map (id -> min) of queries whose trimmed median
    // STILL sits 1.5x + 0.5s above their own min, i.e. where even the
    // robust estimate ran under ambient load. A contaminated pass
    // now exposes its own correction instead of silently mis-grading
    // the round. Degrades to a bare count if the flagged set outgrows
    // the stdout-tail budget (which itself signals heavy contamination).
    val minTotal = results.map(r => math.max(minOf(r._2), 0.0)).sum
    val noisy = results.filter { case (_, v, _, _) =>
      v.nonEmpty && median(v) > 1.5 * minOf(v) && median(v) - minOf(v) > 0.5
    }
    val noisyJson = noisy.map { case (k, v, _, _) =>
      s"\"" + shortId(k) + "\":" + fmt2(minOf(v))
    }.mkString("{", ",", "}")
    def lineWith(q: String, noisyPart: String) =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$q,"errors":$errJson,"reps":$reps,"minTotal":${fmt2(minTotal)},$noisyPart"sf":"$sfShort"}"""
    // beyond ~170 queries no per-query map fits: degrade to the TOP-K
    // SLOWEST medians (the grading-relevant ones) with the truncation
    // EXPLICIT in the line ("queriesShown"/"queriesTotal" — no silent
    // caps); the complete 3-decimal map stays in bench_detail.json
    def qsTop(scale: Int, k: Int): String = results
      .sortBy(r => -median(r._2)).take(k)
      .map { case (name, v, _, _) =>
        s"\"" + shortId(name) + "\":" + BigDecimal(median(v))
          .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
      }.mkString("{", ",", "}")
    def topPart(k: Int) =
      s""""noisyCount":${noisy.size},"queriesShown":$k,"queriesTotal":${results.size},"""
    val line = (Seq(
      lineWith(qs, s""""noisy":$noisyJson,"""),
      lineWith(qs, s""""noisyCount":${noisy.size},"""),
      lineWith(qsAt(1), s""""noisyCount":${noisy.size},""")) ++
      Seq(100, 60, 30).map(k => lineWith(qsTop(1, k), topPart(k))))
      .find(_.length <= 1850)
      .getOrElse(sys.error(
        s"bench stdout line > 1850 chars even at top-30 - shorten ids"))
    // LAST-LINE CONTRACT (round-9 verdict ask #7): the JSON line must be
    // the forked JVM's final stdout. spark.stop() already ran above, but
    // executor/BlockManager shutdown chatter drains ASYNCHRONOUSLY into
    // stderr, which sbt relays interleaved with stdout — round 9's tail
    // caught such a fragment ABOVE the line (harmless) and could in
    // principle catch one below it (fatal to the driver's tail parse).
    // Quiesce: give the late log relays a moment to drain, then print
    // and flush as the very last acts.
    Thread.sleep(1500)
    println(line)
    System.out.flush()
  }
}
