package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** One benchmark run: set up, warm, then whole passes over the workload's
  * operation list until `--seconds` of timed work have been measured.
  * Closed loop, one client: the next operation starts when the previous one
  * has finished. Writes the result (metrics, stamps, failures) to `--out`
  * and, when traced, the spans next to it.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --out FILE --expected FILE --t0 EPOCH_NS --cores C
  */
object Main {
  /** Untimed sequential passes after the cold one. */
  val WarmPasses = 1

  final case class OpRun(pass: Int, idx: Int, name: String, span: String, module: String,
                         construct: Long, plan: Long, exec: Long, failures: Seq[String],
                         pinnedBlocks: Long, pinnedBytes: Long, traced: Boolean) {
    def total: Long = construct + plan + exec
    def id: String = s"$pass/$idx/$name"
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val data = Paths.get(a("data")).toAbsolutePath.toString
    val t0 = a("t0").toLong
    val expected = Expected.load(Paths.get(a("expected")))

    val setup = ArrayBuffer.empty[(String, Double, String)]
    var mark = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    setup += (("setup.launch_s", (mark - t0) / 1e9, "s"))
    def lap(name: String): Unit = {
      val now = System.currentTimeMillis() * 1000000L
      setup += ((name, (now - mark) / 1e9, "s"))
      mark = now
    }
    val spark = Spark.session(cores, work.toString)
    val sc = spark.sparkContext
    val rnd = new java.util.Random(seed)
    val trace = new Trace(traced)
    val log = new JobLog

    lap("setup.session_s")
    var chain: Option[Chain] = None
    // Units run their operations in order; the warm pass runs units
    // concurrently, the timed passes run the flattened list one at a time.
    val units: Seq[Seq[Op]] = workload match {
      case "moodle_chain" =>
        val in = Inputs.generate(spark, seed, work.resolve("inputs"))
        lap("setup.generate_s")
        val c = new Chain(spark, in, Files.createDirectories(work.resolve("chain")))
        c.prepare()
        chain = Some(c)
        Seq(c.ops)
      case "queries" =>
        Queries.shuffle(Queries.Light ++ Queries.Heavy, rnd)
          .map(n => Seq(Queries.op(spark, data, n, expected.get(n))))
      case other => sys.error(s"unknown workload $other")
    }
    val ops = units.flatten
    lap("setup.inputs_s")

    final case class Exec(c: Long, p: Long, x: Long, e: Seq[Long], failures: Seq[String])
    def execute(op: Op, id: String, check: Boolean): Exec = {
      val e = ArrayBuffer(trace.now())
      var (c, p, x) = (0L, 0L, 0L)
      val failures = try {
        JobLog.tag(sc, id, "construct")
        val n0 = System.nanoTime()
        val df = op.build()
        val n1 = System.nanoTime()
        e += trace.now()
        JobLog.tag(sc, id, "plan")
        df.queryExecution.executedPlan
        val n2 = System.nanoTime()
        e += trace.now()
        JobLog.tag(sc, id, "exec")
        op.act(df)
        val n3 = System.nanoTime()
        e += trace.now()
        c = n1 - n0; p = n2 - n1; x = n3 - n2
        JobLog.tag(sc, id, "check")
        if (check) op.check(df) else Nil
      } catch { case err: Throwable =>
        Seq(s"${op.name}: ${err.getClass.getSimpleName}: " +
          String.valueOf(err.getMessage).linesIterator.nextOption().getOrElse(""))
      } finally JobLog.tag(sc, id, "between")
      Exec(c, p, x, e.toSeq, failures)
    }

    val runs = ArrayBuffer.empty[OpRun]
    def storage(): (Long, Long) = {
      val infos = sc.getRDDStorageInfo
      (infos.map(_.numCachedPartitions.toLong).sum, infos.map(i => i.memSize + i.diskSize).sum)
    }
    def runPass(pass: Int, tracedPass: Boolean): Long = {
      val passStart = trace.now()
      val done = ops.zipWithIndex.map { case (op, i) =>
        val id = s"$pass/$i/${op.name}"
        val r = execute(op, id, check = false)
        val (blocks, bytes) = storage()
        runs += OpRun(pass, i, op.name, op.span, op.module, r.c, r.p, r.x, r.failures,
          blocks, bytes, tracedPass)
        (op, id, r)
      }
      val timed = done.map { case (_, _, r) => r.c + r.p + r.x }.sum
      if (tracedPass) {
        // Real wall intervals: untimed checks leave gaps between operations.
        log.drain()
        val passId = trace.add(0, "pass", passStart, trace.now(),
          Map("pass" -> pass.toString, "timed_s" -> (timed / 1e9).toString))
        val jobs = log.allJobs.groupBy(j => (j.op, j.phase))
        done.filter(_._3.e.size == 4).foreach { case (op, id, r) =>
          val Seq(e0, e1, e2, e3) = r.e
          val opId = trace.add(passId, op.span, e0, e3, Map("op" -> op.name, "module" -> op.module, "id" -> id))
          Seq(("construct", e0, e1), ("plan", e1, e2), ("exec", e2, e3)).foreach { case (ph, s, e) =>
            val phId = trace.add(opId, ph, s, e)
            jobs.getOrElse((id, ph), Nil).foreach { j =>
              trace.add(phId, if (j.schema) "sources.schema_job" else "spark.job",
                j.start * 1000000L, math.max(j.start, j.end) * 1000000L,
                Map("job" -> j.id.toString, "site" -> j.site))
            }
          }
        }
      }
      timed
    }

    // Set-up ends with a cold pass that runs every operation once with
    // every output check (independent units concurrently, one per core);
    // the JIT is still compiling after it, so one more sequential untimed
    // pass follows, then a collection so every timed pass starts from the
    // same heap with superseded checkpoint blocks released.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val coldFailures = try {
      val futures = units.zipWithIndex.map { case (unit, u) =>
        pool.submit(() => unit.zipWithIndex.map { case (op, i) =>
          execute(op, s"0/$u.$i/${op.name}", check = true).failures })
      }
      futures.flatMap(_.get())
    } finally pool.shutdown()
    val warmFailures = coldFailures ++ (1 to WarmPasses).flatMap(w =>
      ops.zipWithIndex.map { case (op, i) => execute(op, s"-$w/$i/${op.name}", check = false).failures })
    System.gc()
    lap("setup.warm_s")
    // The chain proves once that a ledger re-run sends nothing twice.
    val rerunFailures = chain.map(_.checkRerun()).getOrElse(Nil)
    lap("setup.rerun_s")
    val setupS = (trace.now() - t0) / 1e9
    // Host-speed probe, untimed: warmed, then sampled three times before the
    // timed passes and three times after each.
    (1 to 3).foreach(_ => Spark.probe(spark))
    val probes = ArrayBuffer.fill(3)(Spark.probe(spark))

    val passTimes = ArrayBuffer.empty[(Int, Boolean, Double)]
    var measured = 0.0
    var pass = 0
    // A traced run alternates untraced and traced passes and ends on an
    // untraced one, so the overhead ratio compares passes from both sides.
    while (measured < seconds || (traced && (pass < 3 || pass % 2 == 0))) {
      pass += 1
      val tracedPass = traced && pass % 2 == 0
      if (tracedPass) sc.addSparkListener(log)
      val t = runPass(pass, tracedPass) / 1e9
      if (tracedPass) sc.removeSparkListener(log)
      passTimes += ((pass, tracedPass, t))
      measured += t
      probes ++= Seq.fill(3)(Spark.probe(spark))
    }

    val timedRuns = runs.filter(_.pass > 0).toSeq
    val failures = warmFailures.flatten ++ runs.flatMap(_.failures) ++ rerunFailures
    val failedOps = warmFailures.count(_.nonEmpty) + runs.count(_.failures.nonEmpty) +
      (if (rerunFailures.nonEmpty) 1 else 0)
    val attempted = warmFailures.size + runs.size + chain.size

    val probe = Stats.median(probes.toSeq)
    val m = new Metrics(cores, timedRuns, passTimes.toSeq, log, chain)
    val metrics: Seq[(String, Double, String)] =
      if (traced) m.perLayer(Rss.peakMb())
      else m.endToEnd(setupS, probe)
    val notes = (if (traced) m.traceNotes() else m.endToEndNotes(setupS)) ++ setup ++ Seq(
      ("fail_ratio", failedOps.toDouble / attempted, "ratio"),
      ("host.probe_s", probe, "s"))

    val out = Paths.get(a("out"))
    Files.createDirectories(out.toAbsolutePath.getParent)
    if (traced) trace.write(Paths.get(out.toString.stripSuffix(".json") + ".spans.json"),
      s"$workload-$seed")
    val stamp = Stamp(spark, cores, data, seed, a.getOrElse("source", "unknown"))
    Files.writeString(out, Result.json(workload, seed, traced, attempted, failedOps,
      metrics, notes, stamp, failures.take(20), timedRuns))
    spark.stop()
    sys.exit(if (failedOps == 0) 0 else 1)
  }
}
