package graft.layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max statistics and scan pruning — the data-skipping
  * index that makes range predicates on clustered tables read a handful
  * of files instead of all of them (what Delta/Iceberg keep in their
  * manifests, computed engine-side here).
  *
  * Works hand-in-hand with [[ZOrder]]/`Catalog.compact`: clustering makes
  * per-file ranges TIGHT, and tight ranges are what give pruning its
  * selectivity. Stats collection is one columnar scan of only the stats
  * columns (column pruning reaches the parquet reader; `_metadata` is
  * constant-per-file metadata, not data).
  *
  * Scale notes (100 TB posture): the stats table has one row per FILE —
  * ~100k rows for a 100 TB table of 1 GB files — so it lives comfortably
  * on the driver or in a catalog table; `candidateFiles` is the O(files)
  * metadata lookup every lakehouse query planner performs, NOT a data
  * collect. Pruning correctness never depends on stats freshness
  * tricks: a file is skipped only when its whole [min,max] range lies
  * outside the predicate, and all-null files cannot satisfy a range
  * predicate. In production the stats would be recorded per file in
  * `Catalog`'s manifest at write time and incrementally merged
  * per [[graft.queries.GraphIncrementalQueries q82]]'s partial-merge
  * pattern rather than recomputed.
  */
object DataSkipping {

  /** Per-file [min,max] for each stats column, via one grouped scan. */
  def fileStats(spark: SparkSession, path: String, statsCols: Seq[String]): DataFrame = {
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(path)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Files whose [min,max] range on `c` may intersect [lo, hi]. Files with
    * null stats (all-null column) are skipped — a null can never satisfy
    * the range predicate. */
  def candidateFiles(stats: DataFrame, c: String, lo: Column, hi: Column): Seq[String] = {
    val keep = col(s"max_$c") >= lo && col(s"min_$c") <= hi
    stats.filter(keep).select(col("file"))
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Range scan through the skipping index: prune files by stats, then
    * apply the exact predicate to the survivors. Equivalent to (but far
    * cheaper than) filtering the full table. */
  def readPruned(spark: SparkSession, stats: DataFrame, c: String,
                 lo: Column, hi: Column): DataFrame = {
    val files = candidateFiles(stats, c, lo, hi)
    val src = if (files.isEmpty) {
      // preserve schema on a fully-pruned scan: read structure, no rows
      val any = stats.select(col("file")).limit(1).collect().map(_.getString(0))
      spark.read.parquet(any.toIndexedSeq: _*).limit(0)
    } else spark.read.parquet(files: _*)
    src.filter(col(c) >= lo && col(c) <= hi)
  }
}
