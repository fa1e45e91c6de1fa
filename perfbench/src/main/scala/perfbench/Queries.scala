package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `queries` workload. Each operation is one registered query of
  * `graft.SparkEntry.queries`, run on the fixed tables in `data`, ended
  * with the full-result action and checked against the digest recorded
  * for it in `expected_digests.jsonl`. A pass runs [[Heavy]] and [[Light]]
  * in seeded order.
  */
object Queries {

  /** Construction-dominated iterative queries: PageRank's graph rounds,
    * IVF-PQ's k-means codebook training, the hygiene funnel's Materialize
    * chain.
    */
  val Heavy: Seq[String] = Seq("pagerank", "knn_ivfpq", "hygiene_funnel")

  /** Cheap queries where per-query fixed cost (schema jobs, planning, job
    * launch) dominates: one from each of six modules, spanning the cheap
    * half of the registry's recorded costs (0.15–0.42 s). Fixed rather than
    * drawn per seed: drawn samples moved the median operation by 30 % from
    * seed to seed.
    */
  val Light: Seq[String] = Seq("sample_stratified", "gini_source", "events_json",
    "emb_pca_power", "q4_priority_late", "tfidf_top_terms")

  /** Module a query is registered by, read from its function's class name
    * (`graft.queries.TpchQueries$$Lambda…` → `TpchQueries`).
    */
  def module(fn: AnyRef): String =
    """graft\.queries\.([A-Za-z]+)\$""".r.findFirstMatchIn(fn.getClass.getName)
      .map(_.group(1)).getOrElse("other")

  def op(spark: SparkSession, data: String, query: String, expected: Option[String]): Op = {
    val fn = graft.SparkEntry.queries(query)
    new Op {
      val name = query
      val span = "queries.query"
      val module = Queries.module(fn)
      def build(): DataFrame = fn(spark, data)
      def check(df: DataFrame): Seq[String] = {
        val d = Spark.digest(df)
        expected match {
          case Some(e) if e == d => Nil
          case Some(e) => Seq(s"$query: digest $d, expected $e")
          case None => Seq(s"$query: no expected digest recorded")
        }
      }
    }
  }

  def shuffle[A](xs: Seq[A], rnd: java.util.Random): Seq[A] = new scala.util.Random(rnd).shuffle(xs)
}
