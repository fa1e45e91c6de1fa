package graft.sources

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.DataStreamWriter

/** A persisted artifact the engine builds once per corpus and reads many
  * times (the near-dup ledger, the IVF+PQ ANN index): `table` is the
  * source table whose files key the artifact's home, `data` the
  * subdirectory holding the partitioned rows, `parts` the partition
  * columns with their cardinalities, outermost first.
  *
  * One layout for every artifact:
  *   - `<home>/<data>/c1=v1/c2=v2/…` — one parquet file per directory,
  *     written by one task each ([[writers]] = the product of the
  *     cardinalities);
  *   - `<home>/manifest.txt` — one relative path per leaf parquet file
  *     (the Delta/Iceberg-metadata analog for this plain-parquet
  *     layout), so a pruned read selects its directories without
  *     listing the tree;
  *   - `<home>/_GRAFT_COMPLETE` — written last, deleted first, so a
  *     crashed build or compaction is never mistaken for an artifact.
  * An artifact is complete when both the marker and the manifest exist;
  * [[ensure]] rebuilds anything else.
  *
  * Reads go through one session-scoped cache of RESOLVED scans:
  * `spark.read.parquet` lists the touched tree and reads a footer for
  * the schema at read time, and repeated reads of an unchanged artifact
  * in one session would re-pay that (SCALING.md, round 15; at 100 TB it
  * is an object-store LIST and footer fetch per read). The key is
  * (session, canonical home, marker mtime, scan signature): a rebuild or
  * compaction rewrites the marker, so stale entries miss and are evicted
  * on the next load, with no invalidation hook.
  *
  * Streaming maintenance appends a DELTA segment with the same
  * partitioning ([[writer]], read back by [[delta]]); [[maintainBase]]
  * folds it into the base once its committed file count passes a bound.
  */
final case class Artifact(ns: String, table: String, data: String,
                          parts: Seq[(String, Int)]) {
  import Artifact._

  private val partCols: Seq[String] = parts.map(_._1)

  /** Writer tasks per data write: one per partition directory. */
  val writers: Int = parts.map(_._2).product

  /** The partition columns packed into one long (outermost first,
    * mixed-radix by cardinality): a single `isin` over it is a static
    * partition predicate the file index prunes on.
    */
  val packedKey: Column =
    parts.tail.foldLeft(col(parts.head._1).cast("long")) { case (acc, (c, n)) =>
      acc * n + col(c).cast("long")
    }

  /** On-disk home for the corpus at `dir`, keyed by an md5 of the
    * source table's files' (path, length, mtime): a regenerated corpus
    * hashes to a different directory and triggers a rebuild instead of
    * being served a stale artifact.
    */
  def home(dir: String): File = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil).flatMap(walk)
      else Seq(f)
    val sig = walk(new File(s"$dir/$table.parquet"))
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}").mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new File(new File(System.getProperty("java.io.tmpdir"), ns), md)
  }

  def complete(root: File): Boolean =
    new File(root, Marker).exists() && new File(root, Manifest).exists()

  /** The home for `dir`, built by `build` first unless complete. */
  def ensure(dir: String)(build: File => Unit): File = {
    val root = home(dir)
    if (!complete(root)) build(root)
    root
  }

  /** Write the artifact at `root`: marker deleted first, `rows` written
    * one file per partition directory, then the caller's sidecar
    * writes, the manifest, and the marker last.
    */
  def write(root: File, rows: DataFrame)(sidecars: => Unit = ()): Unit = {
    new File(root, Marker).delete()
    writeData(rows, new File(root, data))
    sidecars
    seal(root)
  }

  /** The directory `dir` under the home — the whole data tree, or a
    * sidecar `write`'s caller wrote — resolved once per artifact version
    * and session.
    */
  def scan(spark: SparkSession, root: File, dir: String = data): DataFrame =
    cached(spark, root, dir)(spark.read.parquet(new File(root, dir).toString))

  /** The rows whose [[packedKey]] is in `keys`. The touched directories
    * come from the manifest (driver-side string work, manifest-sized)
    * and only those are read — `basePath` keeps the partition columns —
    * while the `isin` stays on the scan as a staleness guard (it lands
    * in PartitionFilters on either route). Directories, NOT leaf files:
    * passing thousands of leaf paths makes the driver stat each one
    * (measured worse than the tree listing at sf1, 5.9 → 7.7 s). When no
    * directory or more than half of them is touched, the full tree is
    * read instead: one recursive listing beats per-directory opens.
    */
  def pruned(spark: SparkSession, root: File, keys: Seq[Long]): DataFrame =
    if (keys.isEmpty) scan(spark, root).filter(lit(false))
    else {
      val keep = keys.toSet
      val dirs = scala.jdk.CollectionConverters.ListHasAsScala(
          Files.readAllLines(new File(root, Manifest).toPath)).asScala
        .map(p => p.take(p.lastIndexOf('/'))).distinct
      val touched = dirs.filter(d => keep(packed(d))).toVector
      val base =
        if (touched.isEmpty || touched.size * 2 > dirs.size) scan(spark, root)
        else {
          val dataDir = new File(root, data)
          cached(spark, root, s"dirs:${touched.hashCode}") {
            spark.read.option("basePath", dataDir.toString)
              .parquet(touched.map(d => new File(dataDir, d).toString): _*)
          }
        }
      base.filter(packedKey.isin(keys: _*))
    }

  /** The packed key of a relative data directory `c1=v1/c2=v2`. */
  private def packed(relDir: String): Long =
    relDir.split('/').zip(parts).foldLeft(0L) { case (acc, (seg, (_, n))) =>
      acc * n + seg.drop(seg.indexOf('=') + 1).toLong
    }

  /** Append-only file-sink writer for a delta segment, partitioned like
    * the base so the same directory pruning covers it. Exactly-once
    * comes from the sink's commit log: a replayed micro-batch never
    * re-appends.
    */
  def writer(rows: DataFrame, deltaDir: String,
             checkpointDir: String): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode("append")
      .partitionBy(partCols: _*)
      .format("parquet")
      .option("path", deltaDir)
      .option("checkpointLocation", checkpointDir)

  /** The delta segment as a batch frame; an absent or not-yet-committed
    * delta reads as an empty frame of `like`'s schema, so
    * `base.unionByName(delta(...))` is always valid.
    */
  def delta(spark: SparkSession, deltaDir: String, like: DataFrame): DataFrame =
    if (new File(deltaDir, "_spark_metadata").exists())
      spark.read.schema(like.schema).parquet(deltaDir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], like.schema)

  /** Committed delta parquet-file count, the compaction trigger: every
    * micro-batch appends ≥ 1 file per touched directory, so without
    * folding, read-side opens grow with STREAM LIFETIME, not data.
    */
  def deltaFileCount(deltaDir: String): Int = {
    def count(f: File): Int =
      if (f.isDirectory && f.getName != "_spark_metadata")
        Option(f.listFiles()).getOrElse(Array.empty[File]).map(count).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    count(new File(deltaDir))
  }

  /** Fold the delta segment into the base — stop-the-stream maintenance
    * (the stream writing `deltaDir` MUST be stopped first; the delta
    * and its sink commit log are consumed, and the restarted stream gets
    * a fresh checkpoint and delta dir). base ∪ delta is rewritten one
    * file per directory into a sibling temp dir and swapped in; the
    * manifest and marker are refreshed LAST, which version-bumps every
    * cached scan of this artifact. Sidecars are untouched.
    */
  def compact(spark: SparkSession, root: File, deltaDir: String): Unit = {
    val dataDir = new File(root, data)
    val tmp = new File(root, s"${data}_compacting")
    val base = spark.read.parquet(dataDir.toString)
    val merged = base.unionByName(delta(spark, deltaDir, base))
    new File(root, Marker).delete() // a crash mid-swap reads as absent, never half
    writeData(merged, tmp)
    rmTree(dataDir)
    Files.move(tmp.toPath, dataDir.toPath)
    seal(root)
    rmTree(new File(deltaDir))
  }

  /** The maintenance POLICY: fold when the delta's committed file count
    * exceeds `maxDeltaFiles`, else leave the stream's segment alone.
    * Returns whether a compaction ran. With the default 64, a read never
    * opens more than 64 delta files on top of the base's one per
    * directory, however long the stream has run.
    */
  def maintainBase(spark: SparkSession, root: File, deltaDir: String,
                   maxDeltaFiles: Int = 64): Boolean = {
    val due = deltaFileCount(deltaDir) > maxDeltaFiles
    if (due) compact(spark, root, deltaDir)
    due
  }

  // repartition ON the partition columns before partitionBy: each
  // directory is then written by exactly one task, one file per
  // directory instead of (tasks × dirs) small files (per-file opens are
  // what a pruned read pays past pruning). The count is pinned to the
  // directory count: left keyless, the one-task write stage was 4.26 s
  // of the ledger build's 4.9 s.
  private def writeData(rows: DataFrame, target: File): Unit =
    rows.repartition(writers, partCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(target.toString)

  private def seal(root: File): Unit = {
    val dataDir = new File(root, data)
    def leaves(f: File, rel: String): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.sortBy(_.getName)
          .flatMap(c => leaves(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else if (f.getName.endsWith(".parquet")) Seq(rel) else Nil
    Files.writeString(new File(root, Manifest).toPath,
      leaves(dataDir, "").map(_ + "\n").mkString)
    Files.writeString(new File(root, Marker).toPath, "ok")
  }
}

object Artifact {
  private[graft] val Marker = "_GRAFT_COMPLETE"
  private[graft] val Manifest = "manifest.txt"

  /** Bound on cached scans across all artifacts and sessions: a long
    * session probing many DISTINCT batches (each a new directory set)
    * clears it bluntly — a re-resolve is cheap next to leaking
    * file-index plans forever.
    */
  private val MaxCachedScans = 256

  private val scans =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long, String), DataFrame]

  private def cached(spark: SparkSession, root: File, sig: String)(
      load: => DataFrame): DataFrame = {
    val home = root.getCanonicalPath
    val key = (spark, home, new File(root, Marker).lastModified(), sig)
    val hit = scans.get(key)
    if (hit != null) hit
    else {
      // stale versions of this artifact go, so the map is bounded by
      // live artifacts × scan signatures, not by rebuild count
      scans.keySet.removeIf(k => (k._1 eq spark) && k._2 == home && k._3 != key._3)
      if (scans.size > MaxCachedScans) scans.clear()
      val df = load
      scans.putIfAbsent(key, df)
      df
    }
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmTree)
    f.delete()
    ()
  }
}
