package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A parquet table's file index filled from a known file list (paths
  * relative to the table directory, with byte sizes) instead of a listing,
  * modelled on Spark's `MetadataLogFileIndex`. Partition values come from
  * the Hive-style `k=v` directories of the listed files, typed by `schema`,
  * so partition pruning works as on a listed directory. Building one
  * touches no file and starts no job: a listing of more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths is a
  * Spark job per read. */
final class ManifestFileIndex(spark: SparkSession, dir: Path,
                              private val files: Seq[(String, Long)], schema: StructType)
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(schema)) {

  private val root = dir.getFileSystem(hadoopConf).makeQualified(dir)
  private val statuses = {
    val blockSize = root.getFileSystem(hadoopConf).getDefaultBlockSize(root)
    files.map { case (rel, len) => new FileStatus(len, false, 1, blockSize, 0L, new Path(root, rel)) }
  }
  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)
  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.toArray.groupBy(_.getPath.getParent)
  private lazy val spec = inferPartitioning()

  override def partitionSpec(): PartitionSpec = spec
  override def rootPaths: Seq[Path] = Seq(root)
  override def refresh(): Unit = ()

  // two reads of one version are one relation, so exchange reuse still
  // recognises a table read twice in one plan
  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => root == o.root && files == o.files
    case _ => false
  }
  private lazy val hash = (root, files).hashCode
  override def hashCode(): Int = hash
}

object ManifestFileIndex {

  /** The table at `dir` holding exactly `files`, read as parquet under
    * `schema` (data and partition columns; partition columns come last,
    * as on a directory read). */
  def dataFrame(spark: SparkSession, dir: String, files: Seq[(String, Long)],
                schema: StructType): DataFrame = {
    val index = new ManifestFileIndex(spark, new Path(dir), files, schema)
    val partitions = index.partitionSchema.fieldNames.toSet
    val data = StructType(schema.filterNot(f => partitions(f.name))).asNullable
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, data,
      None, new ParquetFileFormat, Map.empty)(spark))
  }
}
