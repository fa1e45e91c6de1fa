package graft
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

/** Dev sweep: measured ANN recall (vs brute-force top-5) across IVF
  * probe configurations, at each SF dir given. Used to pick the floors
  * the `knn_*_recall` tolerance oracles assert — the floors in
  * ScaleQueries must be below every number this prints.
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    // SWEEP_ONLY=filtered (comma-separable: ivf,lsh,pq,ivfpq,filtered,
    // neardup) restricts to named sections while re-measuring one
    // operating point
    def want(s: String): Boolean =
      sys.env.get("SWEEP_ONLY").forall(_.split(",").contains(s))
    val dirs = if (args.nonEmpty) args.toSeq
               else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    for (dir <- dirs) {
      val prepped = Similarity.prep(
        Tables.read(spark, dir, "embeddings"), "vec_id", "embedding")
      val queries = prepped.filter(col("id") % 50 === 0)
      val brute = Similarity.knnBrute(queries, prepped, k = 5)
        .select(col("q_id"), col("n_id")).cache()
      val nBrute = brute.count()
      def recall(name: String, approx: org.apache.spark.sql.DataFrame): Unit = {
        val hit = brute.join(approx.select(col("q_id"), col("n_id")),
          Seq("q_id", "n_id"), "left_semi").count()
        println(f"$dir $name recall=${hit * 100.0 / nBrute}%.1f%% ($hit/$nBrute)")
      }
      if (want("ivf")) for (nc <- Seq(16, 32); iters <- Seq(1); nProbe <- Seq(4, 6, 8, 10, 12, 16, 20)
           if nProbe <= nc) {
        val cent = Some(Similarity.kmeansCentroids(prepped, k = nc, iters = iters))
        recall(s"ivf(nc=$nc,iters=$iters,nProbe=$nProbe)",
          Similarity.knnIvf(queries, prepped, k = 5, nCentroids = nc,
            nProbe = nProbe, centroids = cent))
      }
      if (want("lsh")) for (tables <- Seq(4, 8, 12))
        recall(s"lsh(planes=4,tables=$tables)",
          Similarity.knnLsh(queries, prepped, k = 5, dim = 64,
            planes = 4, tables = tables))
      // PQ section: ADC recall at the search-grade 8×8-dim codebooks
      // across sub-codebook size and rerank — feeds the knn_pq_recall
      // floor (which must sit under every number the shipped (subK,
      // rerank) config prints here)
      if (want("pq")) for (subK <- Seq(16, 32); rerank <- Seq(25, 50, 100))
        recall(s"pq(8x8dim,subK=$subK,rerank=$rerank)",
          Similarity.knnPq(queries, prepped, k = 5, rerank = rerank,
            graft.queries.ScaleQueries.pqSubspaces(prepped, subK = subK)))
      // deep-PQ section (env SWEEP_PQ_DEEP=1): sub-quantizer training
      // depth × codebook size × rerank — run when re-picking the
      // operating point; the default sweep keeps the fast grid
      if (sys.env.contains("SWEEP_PQ_DEEP")) {
        for (subK <- Seq(32, 64); iters <- Seq(1, 3); rerank <- Seq(100, 200))
          recall(s"pqdeep(8x8dim,subK=$subK,it=$iters,rerank=$rerank)",
            Similarity.knnPq(queries, prepped, k = 5, rerank = rerank,
              graft.queries.ScaleQueries.pqSubspaces(prepped, subK = subK,
                iters = iters)))
        val coarse = Similarity.kmeansCentroids(prepped, k = 16, iters = 1)
        for (subK <- Seq(32, 64); iters <- Seq(1, 3); rerank <- Seq(100, 200))
          recall(s"ivfpqdeep(16c,8x8dim,subK=$subK,it=$iters,nProbe=12,rerank=$rerank)",
            Similarity.knnIvfPq(queries, prepped, k = 5, rerank = rerank,
              nProbe = 12, coarse = coarse,
              subspaces = graft.queries.ScaleQueries.ivfPqSubspaces(prepped,
                coarse, subK = subK, iters = iters)))
      }
      // IVF+PQ section: composed index (coarse cell pruning + residual
      // ADC) across coarse training depth, residual sub-codebook size,
      // probe count and rerank — feeds the knn_ivfpq_recall floor.
      if (want("ivfpq")) for (cIters <- Seq(1, 3); subK <- Seq(16, 32)) {
        val coarse = Similarity.kmeansCentroids(prepped, k = 16, iters = cIters)
        val subs = graft.queries.ScaleQueries.ivfPqSubspaces(prepped, coarse,
          subK = subK)
        for (nProbe <- Seq(8, 10, 12, 16); rerank <- Seq(50, 100))
          recall(s"ivfpq(16c,it=$cIters,8x8dim,subK=$subK,nProbe=$nProbe,rerank=$rerank)",
            Similarity.knnIvfPq(queries, prepped, k = 5, rerank = rerank,
              nProbe = nProbe, coarse = coarse, subspaces = subs))
      }
      // filtered-ANN section: label-filtered IVF+PQ search vs the
      // FILTERED brute truth, across the rerank pool — feeds the
      // knn_filtered_recall floor and the FilteredRerank operating
      // point. Filter-before-rank means the pool is spent entirely on
      // same-label candidates; the curve shows where widening stops
      // paying.
      if (want("filtered")) {
        val preppedL = Similarity.prep(
          Tables.read(spark, dir, "embeddings"), "vec_id", "embedding",
          keep = Seq("label"))
        val queriesL = preppedL.filter(col("id") % 50 === 0)
        val bruteF = Similarity.knnBruteFiltered(queriesL, preppedL, k = 5,
            labCol = "label")
          .select(col("q_id"), col("n_id")).cache()
        val nBruteF = bruteF.count()
        val coarse = Similarity.kmeansCentroids(preppedL, k = 16, iters = 1)
        val subs = graft.queries.ScaleQueries.ivfPqSubspaces(preppedL, coarse)
        val codes = Similarity.ivfPqCodes(preppedL, coarse, subs,
          keep = Seq("label"))
        for (rerank <- Seq(50, 100, 200, 400)) {
          val found = Similarity.knnIvfPqFilteredOnCodes(queriesL, preppedL,
            codes, k = 5, rerank = rerank, nProbe = 12,
            coarse = coarse, subspaces = subs, labCol = "label")
          val hit = bruteF.join(found.select(col("q_id"), col("n_id")),
            Seq("q_id", "n_id"), "left_semi").count()
          println(f"$dir filtered-ivfpq(nProbe=12,rerank=$rerank) " +
            f"recall=${hit * 100.0 / nBruteF}%.1f%% ($hit/$nBruteF)")
        }
        bruteF.unpersist()
      }
      // near-dup audits: recall of the found pair sets vs rare-gram truth
      if (want("neardup")) {
      val (grams, truth) = graft.queries.ScaleQueries.raregramTruth(spark, dir)
      val nTrue = truth.count()
      def pairRecall(name: String, found: org.apache.spark.sql.DataFrame): Unit = {
        val hit = truth.join(found.select(col("a_id"), col("b_id")),
          Seq("a_id", "b_id"), "left_semi").count()
        println(f"$dir $name recall=${hit * 100.0 / nTrue}%.1f%% ($hit/$nTrue)")
      }
      pairRecall("minhash(t=0.5)",
        graft.operators.Dedup.minhashNearDupsFromGrams(grams, threshold = 0.5))
      // simhash recall AND precision vs the same truth across the accept
      // threshold (minhash pairs are exact-verified, so only simhash has
      // a precision question) — feeds the simhash_recall /
      // simhash_precision floors: pick the maxHamming whose precision
      // clears the floor at EVERY SF with recall still over its floor
      for (mh <- Seq(1, 2, 3)) {
        val sh = graft.operators.Dedup.simhashNearDups(
          Tables.read(spark, dir, "documents"), "doc_id", "text",
          maxHamming = mh).select(col("a_id"), col("b_id"))
        val nFound = sh.count()
        val shHit = sh.join(truth, Seq("a_id", "b_id"), "left_semi").count()
        val tHit = truth.join(sh, Seq("a_id", "b_id"), "left_semi").count()
        println(f"$dir simhash(h<=$mh) recall=${tHit * 100.0 / nTrue}%.1f%% " +
          f"($tHit/$nTrue) precision=${shHit * 100.0 / math.max(nFound, 1)}%.1f%% ($shHit/$nFound)")
      }
      }
      // range (ε-ball) section: recall of the index-path range search
      // vs the brute cosine≥τ truth, across ADC admission margins —
      // feeds ScaleQueries.RangeMargin and the ann_range_recall floor
      // (which must sit under every number the shipped margin prints)
      if (want("range")) {
        val tau = graft.queries.ScaleQueries.RangeTau
        val qv = broadcast(queries.select(col("id").as("q_id"),
          col("v").as("qv"), col("nrm").as("qn")))
        val bruteR = prepped.join(qv, col("id") =!= col("q_id"))
          .filter(Similarity.cosine(col("qv"), col("qn"),
            col("v"), col("nrm")) >= tau)
          .select(col("q_id"), col("id").as("n_id")).cache()
        val nb = bruteR.count()
        // margin 2.0 admits every probed code row — isolates the probe
        // ceiling from the ADC-margin effect at each nProbe
        for (np <- Seq(12, 14, 16); m <- Seq(0.08, 0.12, 0.2, 0.3, 2.0)) {
          val found = graft.queries.ScaleQueries.annRangeAt(spark, dir, m, np)
            .select("q_id", "n_id")
          val hit = bruteR.join(found, Seq("q_id", "n_id"), "left_semi").count()
          println(f"$dir range(tau=$tau,nProbe=$np,margin=$m) " +
            f"recall=${hit * 100.0 / math.max(nb, 1)}%.1f%% ($hit/$nb)")
        }
        bruteR.unpersist()
      }
      brute.unpersist()
    }
    spark.stop()
  }
}
