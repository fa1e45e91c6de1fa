package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Dev harness for the 10× scale probe (SCALING.md): builds an sf1-size
  * corpus by replicating the sf0.1 tables 10× with disjoint key spaces,
  * then times the top bench queries at sf0.1 and sf1 and prints the
  * scaling ratios.
  *
  * Replication design: each replica's keys are offset (disjoint docs /
  * orders / parts) and every document token carries a per-replica
  * suffix, so replicas share NO grams — the gram/candidate structure of
  * each replica matches sf0.1 exactly and the ideal runtime curve is
  * linear in bytes. A probe ratio well above ~10× therefore isolates a
  * super-linear operator, not a workload-shape artifact. Writes only
  * under target/ (never committed, never touching /root/testdata).
  */
object ScaleProbe {
  val Queries = Seq("pagerank", "minhash_recall", "dedup_contain",
    "dup_clusters", "dedup_ngram",
    // round-8 late addition: the chunk-text shuffle + per-doc reassembly
    // shape (dedup_exact's exchange at chunk granularity)
    "dedup_rewrite",
    // round-8 continuation: capped-wedge graph ops, the simhash pair
    // audit (truth + found set), the linear gram-novelty pass, the
    // bigram-LM join, and the orders-table CDC/RFM folds
    "link_predict", "freq_triples", "bfs_hops", "simhash_precision",
    "novelty_rate", "doc_logprob2", "cdc_apply", "rfm_segment",
    // round-8 continuation batch 2: bigram-entropy vocab frames, the
    // LPA+modularity pipeline, exact degree-moment aggregation, the
    // bloom-probed decontamination pass, the centroid-margin corpus
    // scan, and the global-window shard ranking (the W1 single-sort
    // exposure, probed on purpose)
    "cond_entropy", "modularity", "assortativity", "bloom_prefilter",
    "margin_sample", "shard_plan",
    // round-8 continuation batch 3: graph audits, PQ, χ², survival,
    // interpolated LM, canonical/edit dedup, skip-grams, decayed counts
    "clustering_coeff", "hits_rank", "chi2_assoc", "decay_counts",
    "survival_km", "doc_logprob_jm", "mix_waterfill", "skipgram_pairs",
    "dedup_canonical", "dedup_edit", "langid_confusion", "emb_pq")

  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val src = "/root/testdata/sf0.1"
    val out = "target/scaledata/sf1"

    // replica-offset soundness: each table's offset must clear its max
    // base id by ≥10 replicas, or replica key spaces silently MERGE and
    // every sub-linearity ratio is measured on a corrupted corpus. One
    // cheap max() per table, checked before any replication runs.
    def assertOffsetClear(table: String, idCol: String, offset: Long): Unit = {
      val mx = Tables.read(spark, src, table)
        .agg(max(col(idCol).cast("long"))).head.getLong(0)
      require(mx < offset,
        s"replica offset unsound: max($table.$idCol)=$mx >= offset=$offset")
    }
    for ((t, c, o) <- Seq(
        ("documents", "doc_id", 1000000L),
        ("lineitem", "l_orderkey", 1000000000L),
        ("lineitem", "l_partkey", 10000000L),
        ("part", "p_partkey", 10000000L),
        ("orders", "o_orderkey", 1000000000L),
        ("orders", "o_custkey", 10000000L),
        ("events", "event_id", 1000000000L),
        ("events", "user_id", 10000000L),
        ("embeddings", "vec_id", 1000000L)))
      assertOffsetClear(t, c, o)

    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      val reps = spark.range(0, 10).select(col("id").as("rep"))
      def replicate(table: String, tf: DataFrame => DataFrame): Unit =
        tf(Tables.read(spark, src, table).crossJoin(reps))
          .write.mode("overwrite").parquet(s"$out/$table.parquet")
      replicate("documents", df => df.select(
        (col("doc_id") + col("rep") * 1000000L).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1r"), col("rep").cast("string")))).as("text"),
        col("lang"), col("source"),
        length(when(col("rep") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1r"), col("rep").cast("string"))))).cast("long").as("n_chars")))
      replicate("lineitem", df => df
        .withColumn("l_orderkey", col("l_orderkey") + col("rep") * 1000000000L)
        .withColumn("l_partkey", col("l_partkey") + col("rep") * 10000000L)
        .drop("rep"))
      replicate("part", df => df
        .withColumn("p_partkey", col("p_partkey") + col("rep") * 10000000L)
        .drop("rep"))
      println("GENERATED sf1 corpus")
    }
    // orders replication added with the continuation probes — its own
    // existence check so a pre-existing sf1 corpus gains the table
    if (!new java.io.File(s"$out/orders.parquet").exists()) {
      val reps = spark.range(0, 10).select(col("id").as("rep"))
      Tables.read(spark, src, "orders").crossJoin(reps)
        .withColumn("o_orderkey", col("o_orderkey") + col("rep") * 1000000000L)
        .withColumn("o_custkey", col("o_custkey") + col("rep") * 10000000L)
        .drop("rep")
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      println("GENERATED sf1 orders")
    }

    // events replication (decay/survival probes) — disjoint event/user
    // ids, timestamps unchanged: each replica contributes the same day
    // span so the days-sized frames stay fixed while the stream is 10×
    if (!new java.io.File(s"$out/events.parquet").exists()) {
      val reps = spark.range(0, 10).select(col("id").as("rep"))
      Tables.read(spark, src, "events").crossJoin(reps)
        .withColumn("event_id", col("event_id") + col("rep") * 1000000000L)
        .withColumn("user_id", col("user_id") + col("rep") * 10000000L)
        .drop("rep")
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      println("GENERATED sf1 events")
    }
    // embeddings replication (margin_sample probe) — disjoint vec_ids,
    // labels unchanged so the centroid bank stays label-count-sized
    if (!new java.io.File(s"$out/embeddings.parquet").exists()) {
      val reps = spark.range(0, 10).select(col("id").as("rep"))
      Tables.read(spark, src, "embeddings").crossJoin(reps)
        .withColumn("vec_id", col("vec_id") + col("rep") * 1000000L)
        .drop("rep")
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println("GENERATED sf1 embeddings")
    }

    def timeQ(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      fn(spark, dir).count() // warm: codegen + page cache for this shape
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      times.min
    }
    // Two-decade mode (`runMain graft.ScaleProbe 100x`): a 100×-replica
    // corpus (same disjoint-key/disjoint-gram construction, 100 reps)
    // for the cheap pipelines, probing sf0.1 → sf1 → sf10 so each
    // DECADE's ratio is measured, not extrapolated. Offsets are the
    // sf1 ones — they clear 100 replicas too (doc_id < 1e6 · 100 reps
    // < Long; o_orderkey 1e9 · 100 ≪ Long), asserted above.
    if (args.contains("100x")) {
      val out10 = "target/scaledata/sf10"
      if (!new java.io.File(s"$out10/documents.parquet").exists()) {
        val reps = spark.range(0, 100).select(col("id").as("rep"))
        Tables.read(spark, src, "documents").crossJoin(reps)
          .select(
            (col("doc_id") + col("rep") * 1000000L).as("doc_id"),
            when(col("rep") === 0, col("text")).otherwise(
              regexp_replace(col("text"), lit("(\\S+)"),
                concat(lit("$1r"), col("rep").cast("string")))).as("text"),
            col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .write.mode("overwrite").parquet(s"$out10/documents.parquet")
        Tables.read(spark, src, "orders").crossJoin(reps)
          .withColumn("o_orderkey", col("o_orderkey") + col("rep") * 1000000000L)
          .withColumn("o_custkey", col("o_custkey") + col("rep") * 10000000L)
          .drop("rep")
          .write.mode("overwrite").parquet(s"$out10/orders.parquet")
        println("GENERATED sf10 corpus (documents + orders, 100 reps)")
      }
      // round-12: dedup_ngram joins the two-decade list — the heaviest
      // gram family (3-gram doc-pair Jaccard with the df ≤ 20 cap); its
      // disjoint-gram replicas keep per-gram doc lists replica-local, so
      // the capped candidate pairs grow linearly with bytes by design
      // and the probe checks the cap actually delivers that.
      for (q <- Seq("dedup_rewrite", "novelty_rate", "cdc_apply", "rfm_segment",
          "dedup_ngram")) {
        val t01 = timeQ(q, src)
        val t1 = timeQ(q, out)
        val t10 = timeQ(q, out10)
        println(f"PROBE100 $q sf0.1=$t01%.2f s sf1=$t1%.2f s sf10=$t10%.2f s " +
          f"ratio10=${t1 / t01}%.1f ratio100=${t10 / t01}%.1f")
      }
      spark.stop()
      return
    }

    // ANN-index mode (`runMain graft.ScaleProbe ann`): the persisted
    // index lifecycle probed across two decades (sf0.1 → sf1 → sf10) —
    // BUILD (train + code + write, expected ~linear in bytes) vs a
    // FIXED-batch search (replica-0 queries only, so the measured
    // quantity is the deployment shape: a constant daily query batch
    // against a growing corpus; the registered query's %-mod batch
    // would grow 10× with the corpus and measure batch×corpus instead).
    // The sf10 embeddings replica is generated here on first use.
    if (args.contains("ann")) {
      val out10 = "target/scaledata/sf10"
      if (!new java.io.File(s"$out10/embeddings.parquet").exists()) {
        val reps = spark.range(0, 100).select(col("id").as("rep"))
        Tables.read(spark, src, "embeddings").crossJoin(reps)
          .withColumn("vec_id", col("vec_id") + col("rep") * 1000000L)
          .drop("rep")
          .write.mode("overwrite").parquet(s"$out10/embeddings.parquet")
        println("GENERATED sf10 embeddings (100 reps)")
      }
      def timed(f: () => Long): Double = {
        f() // warm (and for build: create the index)
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }
        ts.min
      }
      for (dir <- Seq(src, out, out10)) {
        val b = timed(() => graft.queries.ScaleQueries.annIndexBuild(spark, dir).count())
        val s = timed(() => graft.queries.ScaleQueries.annIndexSearchOn(
          spark, dir, col("id") % graft.queries.ScaleQueries.PqQueryMod === 0 && col("id") < 1000000L).count())
        println(f"PROBEANN $dir build=$b%.2f s fixed-batch-search=$s%.2f s")
      }
      spark.stop()
      return
    }

    // k-scaling mode (`runMain graft.ScaleProbe annk`): the IVF /
    // SemDeDup scaladocs assert cell count should grow ~√N to keep
    // per-cell work bounded, but every committed build uses k = 16.
    // This MEASURES the recipe on the sf1 replica corpus (10× vectors
    // ⇒ k ≈ 16·√10 ≈ 50, rounded to 64): build wall, per-cell
    // imbalance (max/mean occupancy — the ann_index_stats quantities),
    // and for each probe width the fixed-batch search wall + recall vs
    // the brute truth. k = 16 at the registered nProbe = 12 is the
    // baseline row; k = 64 sweeps nProbe 12/24/48 (same probed
    // FRACTION at 48, same probed CELL COUNT at 12 — the contrast
    // shows whether finer cells buy recall per scanned byte).
    if (args.contains("annk")) {
      import graft.queries.ScaleQueries
      val pred = col("id") % ScaleQueries.PqQueryMod === 0 && col("id") < 1000000L
      val prepped = graft.operators.Similarity.prep(
        Tables.read(spark, out, "embeddings"), "vec_id", "embedding")
      val queries = prepped.filter(pred)
      val brute = graft.operators.Similarity.knnBrute(queries, prepped,
          k = ScaleQueries.PqK)
        .select(col("q_id"), col("n_id")).cache()
      val nBrute = brute.count()
      def timed(n: Int)(f: () => Long): Double = {
        f()
        (1 to n).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }.min
      }
      for (k <- Seq(16, 64)) {
        val b = timed(1)(() => ScaleQueries.annIndexBuildAt(spark, out, k).count())
        val cells = ScaleQueries.annIndexPartsAt(spark, out, k)._1
          .groupBy("c_id").count().select(col("count").cast("double"))
          .collect().map(_.getDouble(0))
        val imb = cells.max / (cells.sum / cells.length)
        println(f"PROBEANNK k=$k%d build=$b%.2f s cells=${cells.length}%d " +
          f"imbalance=max/mean=$imb%.2f")
        val probes = if (k == 16) Seq(12) else Seq(12, 24, 48)
        for (np <- probes) {
          val s = timed(2)(() =>
            ScaleQueries.annIndexSearchOnAt(spark, out, pred, k, np).count())
          val hit = brute.join(
            ScaleQueries.annIndexSearchOnAt(spark, out, pred, k, np)
              .select(col("q_id"), col("n_id")),
            Seq("q_id", "n_id"), "left_semi").count()
          println(f"PROBEANNK k=$k%d nProbe=$np%d search=$s%.2f s " +
            f"recall=${100.0 * hit / nBrute}%.1f %% ($hit%d/$nBrute%d)")
        }
      }
      // Base-level recall: the replica corpus makes top-PqK truth
      // DEGENERATE — a query's nearest neighbors are its own exact
      // copies (cosine 1.0, same cell by construction), so the sweep
      // above only proves duplicate-collapse consistency. Collapse to
      // BASE vectors instead: search k = 55 (5 distinct bases × 10
      // replicas + headroom), keep each query's top-5 DISTINCT bases
      // excluding its own, same reduction on the brute side — this is
      // the real neighbor structure (the sf0.1 geometry, replicated).
      def baseTop5(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Relational.topKPerGroup(
          df.withColumn("b", col("n_id") % 1000000L)
            .filter(col("b") =!= col("q_id") % 1000000L)
            .groupBy(col("q_id"), col("b")).agg(min("rk").as("brk")),
          Seq("q_id"), -col("brk"), col("b"), 5)
          .select(col("q_id"), col("b"))
      val truthB = baseTop5(graft.operators.Similarity.knnBrute(
        queries, prepped, k = 55)).cache()
      val nTruthB = truthB.count()
      // rerank scales with the replication factor (200 × 10): every
      // base occupies ~10 rerank slots, so an unscaled pool holds only
      // ~20 distinct bases — the comparison would measure replica
      // crowding, not cell geometry (measured: rerank=200 gives 31–38 %
      // base-recall at EVERY config for exactly that reason).
      // scan-matched pairs: (16,6) vs (64,24) both probe 37.5 % of the
      // corpus; (16,12) vs (64,48) both probe 75 % — the contrast that
      // answers "do finer cells buy recall per scanned byte".
      for ((k, np) <- Seq((16, 6), (16, 12), (64, 12), (64, 24), (64, 48))) {
        val (codes, coarse, subs) = ScaleQueries.annIndexPartsAt(spark, out, k)
        val t0 = System.nanoTime()
        val foundB = baseTop5(graft.operators.Similarity.knnIvfPqOnCodes(
          queries, prepped,
          ScaleQueries.prunedIndexCodes(queries, codes, coarse, np),
          k = 55, rerank = 2000, nProbe = np, coarse = coarse, subspaces = subs))
        val hit = truthB.join(foundB, Seq("q_id", "b"), "left_semi").count()
        val w = (System.nanoTime() - t0) / 1e9
        println(f"PROBEANNK base-recall k=$k%d nProbe=$np%d = " +
          f"${100.0 * hit / nTruthB}%.1f %% ($hit%d/$nTruthB%d) wall=$w%.2f s")
      }
      spark.stop()
      return
    }

    // Ledger mode (`runMain graft.ScaleProbe ledger`): the persisted
    // near-dup ledger lifecycle probed across two decades
    // (sf0.1 → sf1 → sf10) — BUILD (gram + KM-sign + banded write,
    // expected ~linear in bytes) vs a FIXED-batch probe (replica-0
    // slice-3 docs only, the same ~500-doc batch at every scale), so
    // the measured quantity is the deployment shape: a constant day's
    // arrivals checked against a growing history. The sf10 documents
    // replica is generated here on first use (same construction as the
    // 100x mode: disjoint ids, per-replica token suffixes so replicas
    // share no grams — candidate structure per replica matches sf0.1
    // and the ideal probe curve is FLAT, since replica-0 keys collide
    // only with replica-0 history buckets). Build at sf10 is timed
    // ONCE (it runs ~minutes; a min-of-2 would double a measurement
    // whose linearity the two smaller decades already bracket).
    if (args.contains("ledger")) {
      val out10 = "target/scaledata/sf10"
      if (!new java.io.File(s"$out10/documents.parquet").exists()) {
        val reps = spark.range(0, 100).select(col("id").as("rep"))
        Tables.read(spark, src, "documents").crossJoin(reps)
          .select(
            (col("doc_id") + col("rep") * 1000000L).as("doc_id"),
            when(col("rep") === 0, col("text")).otherwise(
              regexp_replace(col("text"), lit("(\\S+)"),
                concat(lit("$1r"), col("rep").cast("string")))).as("text"),
            col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .write.mode("overwrite").parquet(s"$out10/documents.parquet")
        println("GENERATED sf10 documents (100 reps)")
      }
      def timed(n: Int)(f: () => Long): Double = {
        f() // warm (and: create the ledger for the probe)
        val ts = (1 to n).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }
        ts.min
      }
      val fixedBatch = col("doc_id") % 10 === 3 && col("doc_id") < 1000000L
      for ((dir, bn) <- Seq((src, 2), (out, 2), (out10, 1))) {
        val b = timed(bn)(() => graft.queries.ScaleQueries.dedupLedgerBuild(spark, dir).count())
        val p = timed(2)(() => graft.queries.ScaleQueries.dedupLedgerProbeOn(
          spark, dir, fixedBatch).count())
        println(f"PROBELEDGER $dir build=$b%.2f s fixed-batch-probe=$p%.2f s")
      }
      spark.stop()
      return
    }

    // Repeated-probe mode (`runMain graft.ScaleProbe ledgerrepeat`):
    // measures the session-cached FileIndex — the SAME fixed-batch
    // probe run twice in one session against an unchanged ledger. The
    // FIRST probe pays the scan resolution (manifest read + touched-dir
    // listing + schema footer); the SECOND hits the session cache and
    // is metadata-free. Cache cleared between corpora so each first
    // probe is honestly cold. Requires ledgers + sf1/sf10 corpora from
    // a prior `ledger` run (probe builds them if absent).
    if (args.contains("ledgerrepeat")) {
      val out10 = "target/scaledata/sf10"
      val fixedBatch = col("doc_id") % 10 === 3 && col("doc_id") < 1000000L
      def once(dir: String): Double = {
        val t0 = System.nanoTime()
        graft.queries.ScaleQueries.dedupLedgerProbeOn(spark, dir, fixedBatch).count()
        (System.nanoTime() - t0) / 1e9
      }
      // JVM/codegen warm-up on the tiny corpus FIRST: without it the
      // first measured probe absorbs the session's whole-stage-codegen
      // and broadcast machinery spin-up (~6 s) and the first-vs-second
      // delta stops being the listing term it claims to be.
      once("/root/testdata/sf0.001")
      for (dir <- Seq(src, out, out10)) {
        graft.queries.ScaleQueries.clearLedgerScanCache()
        val first = once(dir)
        val second = Seq(once(dir), once(dir)).min // min-of-2 warm probes
        println(f"PROBEREPEAT $dir first=$first%.2f s second=$second%.2f s")
      }
      spark.stop()
      return
    }

    // LedgerKb-knob mode (`runMain graft.ScaleProbe ledgerkb`): the
    // SCALING.md ledger section predicts the fixed-batch probe curve
    // flattens when the (band, kb) directory count outgrows the
    // batch's ~4 000 distinct band keys (at kb = 32 the batch touches
    // essentially ALL 256 directories, so pruning removes little).
    // This mode MEASURES that: same fixed batch, same corpora, ledger
    // rebuilt at kb = 256 (8 × 256 = 2 048 directories) — the probe's
    // touched fraction drops to ~batch_keys/kb and the scan term with
    // it. Requires the sf1/sf10 corpora from the ledger mode.
    if (args.contains("ledgerkb")) {
      val out10 = "target/scaledata/sf10"
      val kb = 256
      def timed(n: Int)(f: () => Long): Double = {
        f()
        val ts = (1 to n).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
        }
        ts.min
      }
      val fixedBatch = col("doc_id") % 10 === 3 && col("doc_id") < 1000000L
      // the knob's bite depends on batch keys vs directory count:
      // touched dirs per band ≈ kb·(1−(1−1/kb)^keys). The ~500-doc
      // batch emits ~4 000 keys and saturates BOTH kb=32 (100 %) and
      // kb=256 (~86 %); the ~50-doc batch (~400 keys) saturates kb=32
      // (~79 % per band) but touches only ~18 % at kb=256 — that
      // contrast is the pruning demonstration, measured on the SAME
      // ledgers at both kb settings.
      val smallBatch = col("doc_id") % 100 === 3 && col("doc_id") < 1000000L
      val probeOnly = args.contains("probeonly") // reuse ledgers built by a prior run
      for ((dir, bn) <- Seq((src, 2), (out, 2), (out10, 1))) {
        val b = if (probeOnly) -1.0 else timed(bn)(() =>
          graft.queries.ScaleQueries.dedupLedgerBuildAt(spark, dir, kb).count())
        val p = timed(2)(() => graft.queries.ScaleQueries.dedupLedgerProbeOn(
          spark, dir, fixedBatch, kb).count())
        val ps = timed(2)(() => graft.queries.ScaleQueries.dedupLedgerProbeOn(
          spark, dir, smallBatch, kb).count())
        val ps32 = timed(2)(() => graft.queries.ScaleQueries.dedupLedgerProbeOn(
          spark, dir, smallBatch).count())
        println(f"PROBELEDGERKB$kb $dir build=$b%.2f s fixed-batch-probe=$p%.2f s " +
          f"small-batch-probe=$ps%.2f s small-batch-probe-kb32=$ps32%.2f s")
      }
      spark.stop()
      return
    }

    // Media mode (`runMain graft.ScaleProbe media`): the decode-bound
    // modality near-dup families probed one decade (sf0.1 → sf1) —
    // each doc synthesizes+decodes its payload (PNG encode/decode+DCT,
    // Y4M encode+band scan), so the ideal curve is LINEAR in docs with
    // embarrassingly-parallel map work and the shared banded-Hamming
    // join's usual quadratic guard. Replica token-suffixes don't touch
    // the payloads (seeded by doc_id alone), so replicas plant the
    // same per-replica dup structure as sf0.1 — candidate structure
    // scales linearly by construction.
    if (args.contains("media")) {
      for (q <- Seq("image_neardup", "video_neardup", "audio_neardup",
          "audio_neardup_groups")) {
        val t01 = timeQ(q, src)
        val t1 = timeQ(q, out)
        println(f"PROBEMEDIA $q sf0.1=$t01%.2f s sf1=$t1%.2f s ratio10=${t1 / t01}%.1f")
      }
      spark.stop()
      return
    }

    // Quality mode (`runMain graft.ScaleProbe quality`): the round-15
    // document-hygiene family across two decades. rep_signals/rep_filter
    // are row-local scans (expected ~linear in bytes, no shuffle term);
    // span_dedup_text carries the window-hash keeper shuffle — replicas
    // rewrite tokens per-rep, so dup structure stays replica-local and
    // the candidate volume grows linearly by construction. The sf10
    // documents replica is generated by the 100x block on first use.
    if (args.contains("quality")) {
      val out10 = "target/scaledata/sf10"
      if (!new java.io.File(s"$out10/documents.parquet").exists()) {
        val reps = spark.range(0, 100).select(col("id").as("rep"))
        Tables.read(spark, src, "documents").crossJoin(reps)
          .select(
            (col("doc_id") + col("rep") * 1000000L).as("doc_id"),
            when(col("rep") === 0, col("text")).otherwise(
              regexp_replace(col("text"), lit("(\\S+)"),
                concat(lit("$1r"), col("rep").cast("string")))).as("text"),
            col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          // 32 files => 32 splittable row groups: maxPartitionBytes can't
          // split inside a row group, and one crossJoin output file would
          // serialize the whole CPU-dense scan onto one task
          .repartition(32)
          .write.mode("overwrite").parquet(s"$out10/documents.parquet")
        println("GENERATED sf10 documents (100 reps)")
      }
      // Layout-controlled copies: the base sf0.1 table and the shared
      // sf1 replica are each a couple of parquet files with giant row
      // groups, and maxPartitionBytes cannot split INSIDE a row group —
      // at the default layout one task owned the whole corpus (measured:
      // a single 990 s task). 32 files per decade makes the three
      // measurements the same shape, so the ratios isolate the operator.
      def layout32(srcDir: String, dstDir: String): String = {
        if (!new java.io.File(s"$dstDir/documents.parquet").exists())
          Tables.read(spark, srcDir, "documents")
            .repartition(32)
            .write.mode("overwrite").parquet(s"$dstDir/documents.parquet")
        dstDir
      }
      val q01 = layout32(src, "target/scaledata/q01")
      val q1  = layout32(out, "target/scaledata/q1")
      // sf10 is written 32-file above already
      // count() is the wrong consumer here: the family's cost is pure
      // per-row projection work, which column pruning deletes under a
      // count — the noop sink materializes every output cell instead
      def timeNoop(name: String, dir: String): Double = {
        val fn = SparkEntry.queries(name)
        def run(): Unit =
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        run() // warm: codegen + page cache for this shape
        (1 to 2).map { _ =>
          val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
        }.min
      }
      for (q <- Seq("rep_signals", "rep_filter", "span_dedup_text",
          "hygiene_funnel")) {
        val t01 = timeNoop(q, q01)
        val t1  = timeNoop(q, q1)
        val t10 = timeNoop(q, out10)
        println(f"PROBEQUALITY $q sf0.1=$t01%.2f s sf1=$t1%.2f s sf10=$t10%.2f s " +
          f"ratio10=${t1 / t01}%.1f ratio100=${t10 / t01}%.1f")
      }
      spark.stop()
      return
    }

    // Prep-family mode (`runMain graft.ScaleProbe prep`): the round-15
    // continuation additions across two decades — the denoiser preps
    // (span_corrupt / ul2_mix / fim_transform: row-local staged-array
    // rebuilds, expected ~linear), the quality/cleaning rule families
    // (gq_filter / c4_clean / rep_para: row-local projections), and
    // ccnet_buckets (vocab-broadcast join + per-source window over the
    // small score frame — the one family member with a shuffle term).
    // Same methodology as `quality`: 32-file layout-controlled corpora,
    // noop sink (column pruning would delete the per-row work these
    // queries ARE), warm + min of 2.
    if (args.contains("prep")) {
      val q01 = "target/scaledata/q01"
      val q1 = "target/scaledata/q1"
      val out10 = "target/scaledata/sf10"
      for (d <- Seq(q01, q1, out10))
        require(new java.io.File(s"$d/documents.parquet").exists(),
          s"$d missing — run `ScaleProbe quality` first")
      def timeNoop(name: String, dir: String): Double = {
        val fn = SparkEntry.queries(name)
        def run(): Unit =
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        run()
        (1 to 2).map { _ =>
          val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
        }.min
      }
      for (q <- Seq("span_corrupt", "ul2_mix", "fim_transform",
          "gq_filter", "c4_clean", "rep_para", "ccnet_buckets")) {
        val t01 = timeNoop(q, q01)
        val t1 = timeNoop(q, q1)
        val t10 = timeNoop(q, out10)
        println(f"PROBEPREP $q sf0.1=$t01%.2f s sf1=$t1%.2f s sf10=$t10%.2f s " +
          f"ratio10=${t1 / t01}%.1f ratio100=${t10 / t01}%.1f")
      }
      spark.stop()
      return
    }

    // Range-at-k mode (`runMain graft.ScaleProbe rangek`): the ε-ball
    // probe-fraction recipe at production cell counts — SURVEY §9's
    // "range ships nProbe=14/16, measured; the FRACTION needs its own
    // k-sweep" item. Same sf1 replica corpus + k-parametrized indexes
    // as the annk mode (run `annk` first to build them); brute truth is
    // the exact cosine ≥ τ ball of the replica-0 query batch. Prints
    // recall per (k, nProbe) with the probed fraction, so the sizing
    // rule reads off directly.
    if (args.contains("rangek")) {
      import graft.queries.ScaleQueries
      import graft.operators.Similarity
      val pred = col("id") % ScaleQueries.PqQueryMod === 0 && col("id") < 1000000L
      val prepped = Similarity.prep(
        Tables.read(spark, out, "embeddings"), "vec_id", "embedding")
      val queries = prepped.filter(pred)
      val tau = ScaleQueries.RangeTau
      val qv = broadcast(queries.select(col("id").as("q_id"),
        col("v").as("qv"), col("nrm").as("qn")))
      val brute = prepped.join(qv, col("id") =!= col("q_id"))
        .filter(Similarity.cosine(col("qv"), col("qn"),
          col("v"), col("nrm")) >= tau)
        .select(col("q_id"), col("id").as("n_id")).cache()
      val nb = brute.count()
      for (k <- Seq(16, 64)) {
        val (codes, coarse, subs) = ScaleQueries.annIndexPartsAt(spark, out, k)
        val probes = if (k == 16) Seq(10, 12, 14) else Seq(32, 40, 48, 56)
        for (np <- probes) {
          val t0 = System.nanoTime()
          val found = Similarity.rangeIvfPqOnCodes(queries, prepped,
              ScaleQueries.prunedIndexCodes(queries, codes, coarse, np),
              tau = tau, margin = 0.30, nProbe = np,
              coarse = coarse, subspaces = subs)
            .select(col("q_id"), col("n_id"))
          val hit = brute.join(found, Seq("q_id", "n_id"), "left_semi").count()
          val w = (System.nanoTime() - t0) / 1e9
          println(f"PROBERANGEK k=$k%d nProbe=$np%d " +
            f"frac=${np * 100.0 / k}%.0f%% " +
            f"recall=${100.0 * hit / nb}%.1f%% ($hit%d/$nb%d) wall=$w%.2f s")
        }
      }
      spark.stop()
      return
    }

    // Packing mode (`runMain graft.ScaleProbe pack`): the two-pass
    // global prefix sum behind pack_offsets/pack_chunks across two
    // decades — the probe checks the bucketed prefix (no global data
    // window) stays linear and the chunk-span explode stays
    // dup-structure-free. Reuses the quality-mode corpora.
    if (args.contains("pack")) {
      val q01 = "target/scaledata/q01"
      val q1 = "target/scaledata/q1"
      val out10 = "target/scaledata/sf10"
      for (d <- Seq(q01, q1, out10))
        require(new java.io.File(s"$d/documents.parquet").exists(),
          s"$d missing — run `ScaleProbe quality` first")
      def timeNoop(name: String, dir: String): Double = {
        val fn = SparkEntry.queries(name)
        def run(): Unit =
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        run()
        (1 to 2).map { _ =>
          val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
        }.min
      }
      // decon_chunks joined round 17 (verdict item 5): the packing
      // prefix-sum frame LEFT SEMI the broadcast eval-gram probe — both
      // halves individually probed linear, this measures the composed op
      for (q <- Seq("pack_offsets", "pack_chunks", "decon_chunks")) {
        val t01 = timeNoop(q, q01)
        val t1 = timeNoop(q, q1)
        val t10 = timeNoop(q, out10)
        println(f"PROBEPACK $q sf0.1=$t01%.2f s sf1=$t1%.2f s sf10=$t10%.2f s " +
          f"ratio10=${t1 / t01}%.1f ratio100=${t10 / t01}%.1f")
      }
      spark.stop()
      return
    }

    // SemDeDup k∝√N mode (`runMain graft.ScaleProbe semdedup`): the
    // sem_dedup scaladoc prescribes growing the cell count with √N;
    // this MEASURES the recipe across two decades of the embeddings
    // replica corpus — k = 16 / 50 / 160 at sf0.1 / sf1 / sf10
    // (16·√10 ≈ 50.6, 16·√100 = 160). Reported per decade: wall
    // (1 Lloyd round + assignment + within-cell collapse), the
    // pair-join work metric Σcell² (predicted ≈ N²/k, so N^1.5 at the
    // √N operating point — k∝√N BALANCES assignment cost N·k against
    // pair cost N²/k; both terms scale N^1.5, which is the architecture
    // honestly stated, not linear), occupancy imbalance, and the drop
    // rate — overall AND replica-0-only (replica copies are exact dups
    // that colocate and collapse, so overall drop is trivially high;
    // the replica-0 rate is the one comparable to the sf0.1 base run).
    if (args.contains("semdedup")) {
      import graft.operators.Similarity
      val out10 = "target/scaledata/sf10"
      if (!new java.io.File(s"$out10/embeddings.parquet").exists()) {
        val reps = spark.range(0, 100).select(col("id").as("rep"))
        Tables.read(spark, src, "embeddings").crossJoin(reps)
          .withColumn("vec_id", col("vec_id") + col("rep") * 1000000L)
          .drop("rep")
          .write.mode("overwrite").parquet(s"$out10/embeddings.parquet")
        println("GENERATED sf10 embeddings (100 reps)")
      }
      for ((dir, k) <- Seq((src, 16), (out, 50), (out10, 160))) {
        val prepped = Similarity.prep(
          Tables.read(spark, dir, "embeddings"), "vec_id", "embedding")
        def run(): DataFrame = {
          val cent = Similarity.kmeansCentroids(prepped, k = k, iters = 1)
          Similarity.semDedup(prepped, cent, tau = 0.35)
        }
        run().count() // warm
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); run().count()
          (System.nanoTime() - t0) / 1e9
        }
        val w = times.min
        val cent = Similarity.kmeansCentroids(prepped, k = k, iters = 1)
        val occ = Similarity.assignCells(prepped, cent)
          .groupBy("c_id").count().select(col("count").cast("double"))
          .collect().map(_.getDouble(0))
        val n = occ.sum
        val pairWork = occ.map(c => c * c).sum
        val dedup = run().cache()
        val drop = dedup.filter(!col("kept")).count() / n
        val r0 = dedup.filter(col("vec_id") < 1000000L)
        val drop0 = r0.filter(!col("kept")).count().toDouble / r0.count()
        dedup.unpersist()
        println(f"PROBESEMDEDUP $dir k=$k%d n=${n.toLong}%d wall=$w%.2f s " +
          f"pairwork=${pairWork / 1e6}%.1f M (n2/k=${n * n / k / 1e6}%.1f M) " +
          f"imbalance=${occ.max / (n / occ.length)}%.2f " +
          f"drop=${100 * drop}%.1f%% drop_rep0=${100 * drop0}%.1f%%")
      }
      spark.stop()
      return
    }

    // Round-16 newcomer mode (`runMain graft.ScaleProbe newcomers`):
    // 10× probes for the operators that landed without one —
    // enrol_plan/enrol_audit (roster-validation windows + ledger
    // anti-join + broadcast catalog; needs a customer replica, built
    // here with disjoint custkeys, and the dimension-sized nation
    // copied verbatim) and the fixed-batch ann_range (replica-0
    // queries against a 10× corpus — the deployment shape, same
    // convention as the `ann` mode; the registered query's %-mod batch
    // would grow with the corpus and measure batch×corpus instead).
    // decon_chunks rides the `pack` mode (same corpora + noop sink).
    if (args.contains("newcomers")) {
      assertOffsetClear("customer", "c_custkey", 10000000L)
      if (!new java.io.File(s"$out/customer.parquet").exists()) {
        val reps = spark.range(0, 10).select(col("id").as("rep"))
        Tables.read(spark, src, "customer").crossJoin(reps)
          .withColumn("c_custkey", col("c_custkey") + col("rep") * 10000000L)
          .drop("rep")
          .write.mode("overwrite").parquet(s"$out/customer.parquet")
        println("GENERATED sf1 customer")
      }
      if (!new java.io.File(s"$out/nation.parquet").exists())
        Tables.read(spark, src, "nation")
          .write.mode("overwrite").parquet(s"$out/nation.parquet")
      for (q <- Seq("enrol_plan", "enrol_audit")) {
        val t01 = timeQ(q, src)
        val t1 = timeQ(q, out)
        println(f"PROBENEW $q sf0.1=$t01%.2f s sf1=$t1%.2f s ratio10=${t1 / t01}%.1f")
      }
      import graft.queries.ScaleQueries
      val pred = col("id") % ScaleQueries.PqQueryMod === 0 && col("id") < 1000000L
      def timedRange(dir: String): Double = {
        def run(): Long = ScaleQueries.annRangeAt(spark, dir,
          ScaleQueries.RangeMargin, ScaleQueries.RangeNProbe, pred).count()
        run() // warm (builds the index for this corpus)
        (1 to 2).map { _ =>
          val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
        }.min
      }
      val r01 = timedRange(src)
      val r1 = timedRange(out)
      println(f"PROBENEW ann_range(fixed-batch) sf0.1=$r01%.2f s sf1=$r1%.2f s " +
        f"ratio10=${r1 / r01}%.1f")
      spark.stop()
      return
    }

    // RepScan A/B mode (`runMain graft.ScaleProbe repscan`): the
    // split-free suite kernel vs the composed split + 9×RepScan form it
    // replaced, side by side per the bench-methodology rule (warm pass,
    // min of 2, one JVM). Both shapes emit IDENTICAL cells — doc_id, the
    // joined length, and the nine scan structs — so the noop sink cost
    // cancels and the delta isolates tokenization + gram grouping.
    // Requires the quality-mode corpora (run `quality` first).
    if (args.contains("repscan")) {
      val q01 = "target/scaledata/q01"
      val q1 = "target/scaledata/q1"
      val out10 = "target/scaledata/sf10"
      for (d <- Seq(q01, q1, out10))
        require(new java.io.File(s"$d/documents.parquet").exists(),
          s"$d missing — run `ScaleProbe quality` first")
      import graft.functions.{RepScanKernels, RepScanSuiteKernels}
      def oldScan(dir: String): DataFrame = {
        val df = Tables.read(spark, dir, "documents")
          .select("doc_id", "text")
          .withColumn("__t", split(trim(col("text")), "\\s+"))
        df.select(col("doc_id") +:
          length(array_join(col("__t"), " ")).cast("long").as("nl") +:
          (2 to 10).map(n =>
            RepScanKernels.repScanCol(col("__t"), n).as(s"sc$n")): _*)
      }
      def newScan(dir: String): DataFrame = {
        val df = Tables.read(spark, dir, "documents")
          .select(col("doc_id"),
            RepScanSuiteKernels.repScanSuiteCol(col("text")).as("__su"))
        df.select(col("doc_id") +:
          col("__su").getField("nl").as("nl") +:
          (2 to 10).map(n =>
            col("__su").getField(s"sc$n").as(s"sc$n")): _*)
      }
      def timeShape(f: String => DataFrame, dir: String): Double = {
        def run(): Unit =
          f(dir).write.format("noop").mode("overwrite").save()
        run()
        (1 to 2).map { _ =>
          val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
        }.min
      }
      for ((nm, f) <- Seq(
          ("split+9xRepScan", oldScan _), ("suite", newScan _))) {
        val t01 = timeShape(f, q01)
        val t1 = timeShape(f, q1)
        val t10 = timeShape(f, out10)
        println(f"PROBEREPSCAN $nm sf0.1=$t01%.2f s sf1=$t1%.2f s " +
          f"sf10=$t10%.2f s ratio10=${t1 / t01}%.1f ratio100=${t10 / t01}%.1f")
      }
      spark.stop()
      return
    }

    // Re-measure mode (`runMain graft.ScaleProbe remeasure`): the
    // round-11 verdict's bench-methodology check — warm pass + min of 2
    // timed passes, isolated from the other 240 queries — for the knn
    // family (which moved 1.2–1.5× in lockstep in BENCH_r11) and
    // hits_rank (drifting two consecutive rounds). Prints one line per
    // query at bench SF for committing alongside the BENCH_r11 numbers.
    if (args.contains("remeasure")) {
      // an optional second arg is a comma list of queries to re-measure
      // (the bench-drift adjudication loop: isolate the movers named by
      // the round's full-bench comparison); default is the knn family
      // the round-11 verdict asked for.
      val qs = args.filter(_ != "remeasure").headOption
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq("knn_ivf", "knn_ivf_hi", "knn_ivf_recall",
          "knn_ivf_hi_recall", "knn_pq", "knn_pq_recall", "knn_lsh",
          "knn_lsh_recall", "knn_ivfpq", "knn_ivfpq_recall", "knn_brute",
          "dedup_minhash", "hits_rank"))
      for (q <- qs) {
        val t = timeQ(q, src)
        println(f"REMEASURE $q sf0.1 min-of-2-warm=$t%.2f s")
      }
      spark.stop()
      return
    }

    // SPARK_GRAFT_ONLY restricts the probe (same contract as Bench)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    for (q <- Queries if only.forall(_(q))) {
      val t01 = timeQ(q, src)
      val t1 = timeQ(q, out)
      println(f"PROBE $q sf0.1=$t01%.2f s sf1=$t1%.2f s ratio=${t1 / t01}%.1f")
    }
    spark.stop()
  }
}
