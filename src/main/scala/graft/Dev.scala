package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import graft.operators.Materialize

/** Developer CLI over the registered queries, one [[Session]] per run:
  *
  *   sbt "runMain graft.Dev time q1,q2,..."
  *     warm each query, then one timed `count()` per query
  *   sbt "runMain graft.Dev profile q1,q2,..."
  *     warm, then split wall-clock into CONSTRUCTION (the `fn(spark, dir)`
  *     call — blocking Materialize jobs land here), PLANNING and
  *     EXECUTION, printing every job and stage observed
  *   sbt "runMain graft.Dev audit"
  *     physical-plan operator counts of every query at sf0.001
  *   sbt "runMain graft.Dev detsweep [sfDir]"
  *     byte-equality of every query under two shuffle partition counts
  *   sbt "runMain graft.Dev plans"
  *     regenerate PLANS.md (sf0.01, 4 cores, 4 shuffle partitions)
  *   sbt "runMain graft.Dev plans <outDir> <materializeMode> q1,q2,..."
  *     write `<outDir>/<name>.txt`, one formatted plan per query
  *
  * `time`, `profile` and the `plans <outDir>` form run at
  * SPARK_GRAFT_SF_DIR (default sf0.1), like Bench. `materializeMode`
  * feeds [[Materialize.Key]]: `none` prints the plan without
  * materialization boundaries, `eager` the shape the bench executes
  * (materialized frames appear as "Scan ExistingRDD"). Plan-only
  * commands (`audit`, bare `plans`) use `none`, so building a frame runs
  * no job and the real upstream plan stays visible.
  */
object Dev {
  private val Data = "/root/testdata"
  private val Warm = s"$Data/sf0.001"
  private def sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$Data/sf0.1")
  private def names(arg: String) = arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  private val PlanOnly = Map(Materialize.Key -> "none")

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: qs :: Nil => withSession()(time(_, names(qs)))
    case "profile" :: qs :: Nil => withSession()(profile(_, names(qs)))
    case "audit" :: Nil => withSession(extra = PlanOnly)(audit)
    case "detsweep" :: rest if rest.size <= 1 =>
      withSession()(detSweep(_, rest.headOption.getOrElse(s"$Data/sf0.01")))
    case "plans" :: Nil => withSession(4, PlanOnly)(plansMd)
    case "plans" :: out :: mode :: qs :: Nil =>
      withSession(extra = Map(Materialize.Key -> mode))(plans(_, out, names(qs)))
    case _ =>
      System.err.println("usage: graft.Dev time|profile q1,q2,... | audit | " +
        "detsweep [sfDir] | plans [<outDir> <materializeMode> q1,q2,...]")
      sys.exit(2)
  }

  private def withSession(cpus: Int = Session.cpus(), extra: Map[String, String] = Map.empty)(
      f: SparkSession => Unit): Unit = {
    val spark = Session.local(cpus, extra)
    try f(spark) finally spark.stop()
  }

  /** One untimed count at sf0.001 and one at `dir`: classloading, codegen
    * for the actual plan shapes, page cache.
    */
  private def warm(spark: SparkSession, name: String, dir: String): Unit =
    for (d <- Seq(Warm, dir)) SparkEntry.queries(name)(spark, d).count()

  private def time(spark: SparkSession, qs: Seq[String]): Unit = {
    val dir = sfDir
    for (name <- qs) {
      warm(spark, name, dir)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      println(f"TIMED $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
  }

  private def profile(spark: SparkSession, qs: Seq[String]): Unit = {
    val dir = sfDir
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    @volatile var collect = false
    val sb = new StringBuilder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        val desc = Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(s.jobId, (s.time, desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (collect) {
        Option(jobs.get(e.jobId)).foreach { case (t0, desc) =>
          sb.synchronized {
            sb.append(f"    job ${e.jobId}%4d ${(e.time - t0) / 1e3}%7.3f s  $desc%n")
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collect) {
          val si = e.stageInfo
          val wall = (for {a <- si.completionTime; b <- si.submissionTime}
            yield (a - b) / 1e3).getOrElse(-1.0)
          val cpu = si.taskMetrics.executorRunTime / 1e3
          sb.synchronized {
            sb.append(f"      stage ${si.stageId}%4d wall=$wall%7.3f s cpu=$cpu%8.3f s tasks=${si.numTasks}%4d  ${si.name.take(90)}%n")
          }
        }
    })
    for (name <- qs) {
      val fn = SparkEntry.queries(name)
      warm(spark, name, dir)
      sb.clear(); collect = true
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force planning
      val t2 = System.nanoTime()
      df.count()
      val t3 = System.nanoTime()
      collect = false
      Thread.sleep(200) // let listener drain
      println(f"PROFILE $name total=${(t3 - t0) / 1e9}%.3f construct=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f")
      print(sb.toString)
    }
  }

  private def audit(spark: SparkSession): Unit =
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val p = fn(spark, Warm).queryExecution.executedPlan.toString
        def c(s: String) = s.r.findAllIn(p).length
        println(f"AUDIT $name%-22s ex=${c("Exchange ")}%2d smj=${c("SortMergeJoin")}%2d bhj=${c("BroadcastHashJoin")}%2d bnlj=${c("BroadcastNestedLoopJoin")}%2d cart=${c("CartesianProduct")}%2d win=${c("Window")}%2d scans=${c("Scan parquet")}%2d")
      } catch { case e: Exception => println(s"AUDIT $name ERROR ${e.getMessage.take(80)}") }
    }

  private def detSweep(spark: SparkSession, dir: String): Unit = {
    var bad = 0
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        def run(p: String) = {
          spark.conf.set("spark.sql.shuffle.partitions", p)
          fn(spark, dir).collect().map(_.toString).toSeq
        }
        val a = run("5"); val b = run("23")
        if (a != b) { println(s"DIVERGED $name"); bad += 1 }
        else println(s"OK $name")
      } catch { case e: Exception => println(s"ERROR $name ${e.getMessage.take(80)}"); bad += 1 }
    }
    println(s"SWEEP done, $bad bad")
  }

  private def explain(spark: SparkSession, name: String, dir: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(FormattedMode)

  private def plans(spark: SparkSession, out: String, qs: Seq[String]): Unit = {
    val dir = sfDir
    Files.createDirectories(Paths.get(out))
    for (name <- qs) {
      val plan = explain(spark, name, dir)
      Files.writeString(Paths.get(out, s"$name.txt"), plan)
      println(s"wrote $out/$name.txt (${plan.length} chars)")
    }
  }

  /** The flagship queries PLANS.md shows, one per operator family. */
  private val PlanPicks = Seq(
    "moodle_normalize", "q1_pricing_summary", "q3_top_revenue",
    "q5_nation_revenue", "dedup_minhash", "knn_brute", "asof_join",
    "topk_agg", "range_join_events", "grouping_sets", "stats_moments",
    "merge_upsert", "interval_merge", "tfidf_top_terms",
    "latest_snapshot", "fingerprint_winnow",
    "q8_market_share", "q17_small_qty", "q21_late_suppliers",
    "q2_min_acct_supplier", "mix_sample", "agg_merge", "emb_project",
    "zorder_buckets",
    "bm25_score", "rrf_fusion", "dsir_weights", "pareto_front",
    "regr_per_group", "hll_rollup", "label_prop", "quantile_norm",
    // recall audits: shared rare-gram truth + sketch/ANN found sets
    "minhash_recall", "knn_lsh_recall",
    "theta_intersect", "compress_ratio",
    "bpe_merges", "sem_dedup", "knn_ivf_hi", "dedup_contain", "pagerank",
    "triplet_mine", "cms_rollup", "dedup_rewrite",
    "link_predict", "freq_triples", "bfs_hops", "cdc_apply",
    "rfm_segment", "novelty_rate", "doc_logprob2",
    "bloom_prefilter", "modularity", "assortativity", "hits_rank",
    "margin_sample", "cond_entropy", "chi2_assoc", "dedup_edit",
    "survival_km", "mix_waterfill", "skipgram_pairs",
    "emb_pq", "mutual_nn", "dup_cluster_sizes",
    // probe family: training runs at construction, the plan shown is the
    // literal-folded deployment projection
    "ann_index_search", "knn_filtered", "dedup_consensus",
    "linear_probe_score", "probe_pr_curve", "text_probe_eval",
    "label_scatter_project", "coreset_cover", "dedup_minhash_md5",
    // the ledger probe must show a partition-pruned bucket scan
    "dedup_ledger_probe", "emb_pca", "ann_index_health",
    "audio_neardup_recall",
    "emb_whiten_check", "emb_jl_check", "dp_release", "shuffle_audit",
    "dp_topk", "unigram_encode", "boilerplate_ngrams", "dedup_soft_weights",
    "audio_neardup", "audio_neardup_groups", "emb_whiten_full_check",
    // rep_signals: one projection + presentation sort, no shuffle;
    // span_dedup_text: keeper ranking + interval merge, no pair join
    "rep_signals", "span_dedup_text",
    // ul2_mix: three branch projections over one scan, unioned, no join
    "gq_filter", "c4_clean", "span_corrupt", "ul2_mix",
    // gopher_filter: ONE scan feeding both signal families
    "gopher_filter", "ccnet_buckets",
    // enrol_plan: anti-join + broadcast catalog, no global ordering;
    // ann_range: PartitionFilters on c_id, no top-k window
    "enrol_plan", "ann_range", "pack_offsets", "decon_chunks")

  /** Writes PLANS.md itself (UTF-8): redirecting stdout would mix in sbt
    * log lines, and the forked JVM's platform charset mangles non-ASCII
    * literals.
    */
  private def plansMd(spark: SparkSession): Unit = {
    val dir = s"$Data/sf0.01"
    val sb = new StringBuilder
    sb ++= "# PLANS - physical plans of flagship queries (sf0.01)\n\n"
    sb ++= "Generated by `sbt \"runMain graft.Dev plans\"`. What to look for:\n"
    sb ++= "- `PushedFilters` / narrow `ReadSchema` on every parquet scan;\n"
    sb ++= "- `BroadcastHashJoin` for dim/query-side smalls, shuffle joins only on fact-fact keys;\n"
    sb ++= "- `TakeOrderedAndProject` instead of global sorts under LIMIT;\n"
    sb ++= "- wide `WholeStageCodegen` spans (custom expressions included);\n"
    sb ++= "- exactly one Exchange per logical rendezvous.\n"
    // per-plan cap: with materialization off, the iterative operators
    // (bpe_merges: 6 unrolled vocab rounds) explain to 100s of KB of
    // repeated lineage; the structural signal is in the head
    val MaxPlanChars = 20000
    for (name <- PlanPicks) {
      sb ++= s"\n## $name\n\n```\n"
      val plan = explain(spark, name, dir)
      sb ++= (if (plan.length <= MaxPlanChars) plan
              else plan.take(MaxPlanChars) +
                s"\n... [truncated ${plan.length - MaxPlanChars} chars of repeated unrolled lineage]")
      sb ++= "\n```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
  }
}
