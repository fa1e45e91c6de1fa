package graft

/** Benchmark main (driver contract): times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology: one untimed pass at sf0.001 (JVM/classloading), one
  * untimed pass at the BENCH sf (page cache + codegen for the actual
  * plan shapes — broadcast-vs-shuffle choices differ by sf, and each
  * shape compiles its own generated code), then two timed passes taking
  * the per-query MIN. The min discards transient host noise (GC pause,
  * co-tenant load) and reports steady-state operator throughput, which
  * is the quantity comparable across rounds.
  *
  * SPARK_GRAFT_ONLY (optional, comma-separated query names) restricts
  * the run — the single-query iteration loop while tuning a plan.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    def selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    val spark = Session.local()

    for (warmDir <- Seq("/root/testdata/sf0.001", sfDir))
      selected.foreach { case (_, fn) =>
        try { fn(spark, warmDir).count() } catch { case _: Throwable => () }
      }

    def timedPass(): Map[String, Double] = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      // a failed query reports -1.0, never a misleadingly fast time
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    val (p1, p2) = (timedPass(), timedPass())
    // Variance guard (round-18, reporting-only): when a query's two
    // timed passes disagree by >2x, one of them was hit by transient
    // host noise (co-tenant load, GC) large enough that even the min
    // may not be steady-state — the round-17 driver run showed 2-4x
    // outliers (audio_neardup_groups_recall 7.7 s vs 2.05 s quiet).
    // Those queries get a THIRD timed pass, same methodology, and the
    // reported number stays the per-query MIN over all passes — the
    // contract is unchanged, the min just becomes trustworthy. A failed
    // third pass is ignored (the first two passes already succeeded).
    val noisy = p1.keySet.filter { k =>
      val (a, b) = (p1(k), p2.getOrElse(k, -1.0))
      a >= 0 && b >= 0 && math.max(a, b) > 2 * math.min(a, b)
    }
    val p3: Map[String, Double] = selected
      .filter { case (n, _) => noisy(n) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    val results = p1.map { case (name, t1) =>
      val t2 = p2.getOrElse(name, -1.0)
      // min of the clean runs; any failure in the two FULL passes
      // poisons the query to -1
      val t3 = p3.getOrElse(name, -1.0)
      val best = if (t3 >= 0) math.min(math.min(t1, t2), t3) else math.min(t1, t2)
      name -> (if (t1 < 0 || t2 < 0) -1.0 else best)
    }
    // The harness captures the TAIL of stdout and parses the JSON line
    // it finds there. BENCH_r16.json measured that window at exactly
    // 2000 BYTES (not the ~4 KB round 16 assumed): the 1.98 KB
    // slowest-80 line plus sbt's 73-byte [success] trailer overflowed it
    // and the driver recorded "parsed": null for rounds 14, 15 AND 16.
    // Three-channel fix for the measured window:
    // (a) the big STDOUT line carries only the SLOWEST-40 queries plus
    //     at most 12 failure sentinels (~1.2-1.5 KB) — a mass-failure
    //     run must not re-inflate the line, so failures beyond 12 are
    //     represented only by the nfail count that is always present;
    // (b) a FINAL ≤200-byte summary line is printed LAST — the tail
    //     window keeps the END of stdout, so this line always survives
    //     whole and json-parses even if the big line is decapitated;
    // (c) the FULL per-query line goes to fixed-path
    //     bench/last_run.json plus the per-sf and round-stamped
    //     artifacts below, so regression tracking never depends on
    //     stdout retention. Slowest-last ordering kept (round 8 lesson:
    //     the window truncates from the FRONT).
    def renderLine(entries: Seq[(String, Double)]): String = {
      val qs = entries
        .map { case (k, v) => "\"" + k + "\":" + (math.rint(v * 1000) / 1000) }
        .mkString("{", ",", "}")
      // total sums SUCCESSES only — folding the -1 sentinels in would
      // make the headline number quietly IMPROVE when a slow query
      // breaks; nfail carries the failure count explicitly
      val total = results.values.filter(_ >= 0).sum
      val nfail = results.values.count(_ < 0)
      s"""{"metric":"total","value":$total,"unit":"sec","nq":${results.size},"nfail":$nfail,"queries":$qs,"sf":"$sfDir"}"""
    }
    val ascending = results.toSeq.sortBy { case (_, v) => v }
    val line = renderLine(ascending) // full line → file artifacts
    // stdout: the first 12 FAILURES (the -1 sentinels sort first and
    // would be the exact rows takeRight drops; nfail always carries the
    // true count, so capping keeps the line bounded even when everything
    // breaks) + the slowest 40 successes
    val stdoutLine = renderLine(
      ascending.filter(_._2 < 0).take(12) ++
        ascending.filter(_._2 >= 0).takeRight(40))
    // final summary line, printed LAST below: must stay ≤200 bytes so it
    // always fits the measured 2000-byte tail window with sbt's trailer
    val total = results.values.filter(_ >= 0).sum
    val nfail = results.values.count(_ < 0)
    val summaryLine =
      s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},"unit":"sec","nq":${results.size},"nfail":$nfail,"sf":"${new java.io.File(sfDir).getName}"}"""
    // full per-query artifact committed to the repo each round so
    // regression tracking covers ALL queries regardless of how much of
    // the stdout line the harness retains. FULL runs only — a
    // SPARK_GRAFT_ONLY iteration run must never clobber the committed
    // whole-surface artifact with a subset
    if (only.isEmpty) {
      // repo root = nearest ancestor of the working directory carrying
      // build.sbt (sbt forks run from the project root, so this is one
      // hop), /root/repo only as the out-of-tree fallback
      val repoRoot = Iterator.iterate(
          new java.io.File(".").getAbsoluteFile.getParentFile)(_.getParentFile)
        .takeWhile(_ != null).take(10)
        .find(d => new java.io.File(d, "build.sbt").exists())
        .getOrElse(new java.io.File("/root/repo"))
      val benchDir = new java.io.File(repoRoot, "bench")
      benchDir.mkdirs()
      val sfName = new java.io.File(sfDir).getName
      val fw = new java.io.FileWriter(new java.io.File(benchDir, s"full_$sfName.json"))
      try fw.write(line + "\n") finally fw.close()
      // round-stamped copy: BENCH_r{N}.json retains only the tail of
      // the stdout line (the judge's shared-tail comparison covered 86
      // of 264 queries in round 12), so each driver-run full bench also
      // lands at bench/full_r{N}_<sf>.json. N comes from
      // SPARK_GRAFT_ROUND when set (explicit and ordering-proof);
      // otherwise it is inferred as max existing BENCH_r*.json round
      // + 1 — i.e. the round whose BENCH file the driver is about to
      // write — against the repo root RESOLVED FROM the bench dir
      // (bench/..), not a hardcoded absolute path, so a bench run from
      // any working directory stamps consistently.
      val roundRe = """BENCH_r(\d+)\.json""".r
      val nextRound = sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption)
        .getOrElse {
          Option(benchDir.getAbsoluteFile.getParentFile.list()).toSeq.flatten
            .collect { case roundRe(n) => n.toInt }
            .maxOption.getOrElse(0) + 1
        }
      val fr = new java.io.FileWriter(
        new java.io.File(benchDir, s"full_r${nextRound}_$sfName.json"))
      try fr.write(line + "\n") finally fr.close()
      // fixed-path mirror: the one place a consumer can always find the
      // latest full-surface run without knowing sf or round
      val fl = new java.io.FileWriter(new java.io.File(benchDir, "last_run.json"))
      try fl.write(line + "\n") finally fl.close()
    }
    println(stdoutLine)
    // LAST line of our stdout: the short summary survives any tail
    // window ≥ ~280 bytes (200-byte line + sbt [success] trailer)
    println(summaryLine)
    spark.stop()
  }
}
