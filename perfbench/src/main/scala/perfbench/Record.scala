package perfbench

import java.nio.file.{Files, Paths}

/** Records `expected_digests.jsonl`: for every registered query, its module,
  * its digest on the benchmark tables, and its cost (construct + plan + exec
  * seconds after one warm run). The digest is taken twice, from the timed
  * frame and from a fresh one; `stable` says whether the two agreed.
  *
  *   Record <dataDir> <workDir> <cores> <out.jsonl> [name,name,...]
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, work, cores, out) = args.take(4)
    val spark = Spark.session(cores.toInt, work)
    val all = graft.SparkEntry.queries
    val names = if (args.length > 4) args(4).split(",").toSeq else all.keys.toSeq.sorted
    val lines = names.map { name =>
      val fn = all(name)
      val module = Queries.module(fn)
      try {
        Spark.runFull(fn(spark, data))
        val t0 = System.nanoTime()
        val df = fn(spark, data)
        df.queryExecution.executedPlan
        Spark.runFull(df)
        val cost = (System.nanoTime() - t0) / 1e9
        val d1 = Spark.digest(df)
        val d2 = Spark.digest(fn(spark, data))
        f"""{"query":${Json.str(name)},"digest":${Json.str(d1)},"module":${Json.str(module)},"cost_s":$cost%.4f,"stable":${d1 == d2}}"""
      } catch { case e: Throwable =>
        s"""{"error":${Json.str(name)},"message":${Json.str(String.valueOf(e.getMessage).take(200))}}"""
      }
    }
    Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}

/** Cross-check of the recorded digests against the DuckDB oracle: digests
  * each query output that `graft.Verify` wrote under `verifyOut` (the same
  * outputs `tools/check.py` compares cell by cell with the oracle) and
  * compares it with `expected_digests.jsonl`. Prints one line per query and
  * exits non-zero on any mismatch.
  *
  *   CrossCheck <verifyOut> <expected.jsonl> <workDir>
  */
object CrossCheck {
  def main(args: Array[String]): Unit = {
    val Array(verifyOut, expectedPath, work) = args
    val spark = Spark.session(4, work)
    val expected = Expected.load(Paths.get(expectedPath))
    val dirs = Option(new java.io.File(verifyOut).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).sorted
    val results = dirs.map { q =>
      val got = Spark.digest(spark.read.parquet(s"$verifyOut/$q"))
      val ok = expected.get(q).contains(got)
      println(s"${if (ok) "SAME" else "DIFF"} $q $got ${expected.getOrElse(q, "-")}")
      ok
    }
    println(s"${results.count(identity)} same, ${results.count(!_)} different, " +
      s"${expected.size - dirs.size} recorded without a Verify output")
    spark.stop()
    sys.exit(if (results.forall(identity)) 0 else 1)
  }
}
