package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import graft.operators.Materialize
import graft.sources.Tables

/** Developer CLI over the registered queries, one [[Session]] per run:
  *
  *   sbt "runMain graft.Dev time q1,q2,..."
  *     warm each query, then one timed `count()` per query
  *   sbt "runMain graft.Dev profile q1,q2,..."
  *     warm, then split wall-clock into CONSTRUCTION (the `fn(spark, dir)`
  *     call — blocking Materialize jobs land here), PLANNING and
  *     EXECUTION, printing every job and stage observed; the PROFILE
  *     line ends with the query's job count, its construction share and
  *     its parquet schema-inference jobs
  *   sbt "runMain graft.Dev audit"
  *     physical-plan operator counts of every query at sf0.001
  *   sbt "runMain graft.Dev detsweep [sfDir]"
  *     byte-equality of every query under two shuffle partition counts
  *   sbt "runMain graft.Dev plans"
  *     regenerate PLANS.md (sf0.01, 4 cores, 4 shuffle partitions)
  *   sbt "runMain graft.Dev plans <outDir> <materializeMode> q1,q2,..."
  *     write `<outDir>/<name>.txt`, one formatted plan per query
  *   sbt "runMain graft.Dev scale [q1,q2,...]"
  *     10× linear-scaling probe (SCALING.md): time each query at sf0.1
  *     and at a 10-replica sf1 corpus, print the ratio
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
    case "scale" :: rest if rest.size <= 1 =>
      withSession()(scale(_, rest.headOption.map(names).getOrElse(ScalePicks)))
    case _ =>
      System.err.println("usage: graft.Dev time|profile q1,q2,... | audit | " +
        "detsweep [sfDir] | plans [<outDir> <materializeMode> q1,q2,...] | " +
        "scale [q1,q2,...]")
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

  /** Warm, then one timed `count()` of `name` at `dir`, in seconds. */
  private def timed(spark: SparkSession, name: String, dir: String): Double = {
    warm(spark, name, dir)
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir).count()
    (System.nanoTime() - t0) / 1e9
  }

  private def time(spark: SparkSession, qs: Seq[String]): Unit = {
    val dir = sfDir
    for (name <- qs) println(f"TIMED $name ${timed(spark, name, dir)}%.3f s")
  }

  private def profile(spark: SparkSession, qs: Seq[String]): Unit = {
    val dir = sfDir
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    // every job carries the phase that launched it (a local property,
    // inherited by threads the query spawns), so the counts are per phase
    val phaseKey = "graft.dev.phase"
    val (phaseJobs, constructJobs, schemaJobs) =
      (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    @volatile var collect = false
    val sb = new StringBuilder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(s.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.put(s.jobId, (s.time, prop("spark.job.description").getOrElse("")))
        prop(phaseKey).foreach { ph =>
          phaseJobs.incrementAndGet()
          if (ph == "construct") constructJobs.incrementAndGet()
          if (isSchemaJob(s)) schemaJobs.incrementAndGet()
        }
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
    val sc = spark.sparkContext
    for (name <- qs) {
      val fn = SparkEntry.queries(name)
      warm(spark, name, dir)
      sb.clear(); phaseJobs.set(0); constructJobs.set(0); schemaJobs.set(0); collect = true
      val t0 = System.nanoTime()
      sc.setLocalProperty(phaseKey, "construct")
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      sc.setLocalProperty(phaseKey, "plan")
      df.queryExecution.executedPlan // force planning
      val t2 = System.nanoTime()
      sc.setLocalProperty(phaseKey, "exec")
      df.count()
      val t3 = System.nanoTime()
      sc.setLocalProperty(phaseKey, null)
      Thread.sleep(200) // let listener drain
      collect = false
      println(f"PROFILE $name total=${(t3 - t0) / 1e9}%.3f construct=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f jobs=${phaseJobs.get} construct_jobs=${constructJobs.get} schema_jobs=${schemaJobs.get}")
      print(sb.toString)
    }
  }

  /** A job's short call site, or its last stage's name when the job
    * carries none.
    */
  private[graft] def callSite(s: SparkListenerJobStart): String =
    Option(s.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse(s.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))

  /** A parquet schema-inference job: a `parquet at` call site outside any
    * SQL execution (a parquet write carries an execution id). The rule
    * perfbench's `JobLog` applies.
    */
  private[graft] def isSchemaJob(s: SparkListenerJobStart): Boolean =
    callSite(s).startsWith("parquet at") &&
      Option(s.properties).forall(_.getProperty("spark.sql.execution.id") == null)

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

  private val ScaleSrc = s"$Data/sf0.1"
  private val ScaleOut = "target/scaledata/sf1"

  /** The replicated tables and, per table, each id column with its
    * replica offset: replica `r` adds `r × offset` to the column, so the
    * replicas' key spaces are disjoint as long as every offset clears
    * the column's largest base id (checked before anything is written).
    */
  private val ScaleKeys = Seq(
    "documents" -> Seq("doc_id" -> 1000000L),
    "lineitem" -> Seq("l_orderkey" -> 1000000000L, "l_partkey" -> 10000000L),
    "part" -> Seq("p_partkey" -> 10000000L),
    "orders" -> Seq("o_orderkey" -> 1000000000L, "o_custkey" -> 10000000L),
    "events" -> Seq("event_id" -> 1000000000L, "user_id" -> 10000000L),
    "embeddings" -> Seq("vec_id" -> 1000000L))

  /** The probe's default queries: the heavy gram, graph, sketch and
    * order-table operators whose cost could grow faster than the bytes.
    */
  private val ScalePicks = Seq(
    "pagerank", "minhash_recall", "dedup_contain", "dup_clusters", "dedup_ngram",
    "dedup_rewrite", "link_predict", "freq_triples", "bfs_hops", "simhash_precision",
    "novelty_rate", "doc_logprob2", "cdc_apply", "rfm_segment",
    "cond_entropy", "modularity", "assortativity", "bloom_prefilter",
    "margin_sample", "shard_plan",
    "clustering_coeff", "hits_rank", "chi2_assoc", "decay_counts",
    "survival_km", "doc_logprob_jm", "mix_waterfill", "skipgram_pairs",
    "dedup_canonical", "dedup_edit", "langid_confusion", "emb_pq")

  /** One sf1 table: 10 copies of the sf0.1 table with offset
    * ids. Documents also get a per-replica suffix on every token, so
    * replicas share no grams: each replica's gram and candidate
    * structure matches sf0.1 and the ideal runtime curve is linear in
    * bytes.
    */
  private def replicate(spark: SparkSession, table: String,
      keys: Seq[(String, Long)]): DataFrame = {
    val reps = spark.range(0, 10).select(col("id").as("rep"))
    val keyed = keys.foldLeft(Tables.read(spark, ScaleSrc, table).crossJoin(reps)) {
      case (df, (c, offset)) => df.withColumn(c, col(c) + col("rep") * offset)
    }
    val out =
      if (table != "documents") keyed
      else keyed
        .withColumn("text", when(col("rep") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1r"), col("rep").cast("string")))))
        .withColumn("n_chars", length(col("text")).cast("long"))
    out.drop("rep")
  }

  /** The 10× probe: builds `target/scaledata/sf1` once (tables already
    * written are reused), then times each query at sf0.1 and sf1. A
    * ratio well above 10 points at a super-linear operator.
    */
  private def scale(spark: SparkSession, qs: Seq[String]): Unit = {
    for ((table, keys) <- ScaleKeys) {
      val maxes = Tables.read(spark, ScaleSrc, table)
        .select(keys.map { case (c, _) => max(col(c).cast("long")) }: _*).head()
      for (((c, offset), i) <- keys.zipWithIndex)
        require(maxes.getLong(i) < offset,
          s"replica offset unsound: max($table.$c)=${maxes.getLong(i)} >= offset=$offset")
    }
    for ((table, keys) <- ScaleKeys
         if !Files.exists(Paths.get(ScaleOut, s"$table.parquet", "_SUCCESS"))) {
      replicate(spark, table, keys).write.mode("overwrite").parquet(s"$ScaleOut/$table.parquet")
      println(s"GENERATED $ScaleOut/$table.parquet")
    }
    for (q <- qs) {
      val t01 = timed(spark, q, ScaleSrc)
      val t1 = timed(spark, q, ScaleOut)
      println(f"PROBE $q sf0.1=$t01%.2f s sf1=$t1%.2f s ratio=${t1 / t01}%.1f")
    }
  }
}
