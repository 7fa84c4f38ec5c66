package graft.ktk

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet scans over table labels, planned from the snapshot alone — the
  * reference takes its file list from the dataset metadata and never lists
  * the store to read (io_components/read.py:75-178).
  *
  * A snapshot records every label's path and byte size, so the file index
  * answers each label from a [[FileStatusCache]] built from the recorded
  * size, and the schema is passed explicitly: no listing job, no per-file
  * stat, no path check and no schema-inference job. Partition inference
  * from the `key=value` dirs (typed by the schema) and the hidden
  * `_metadata` column stay Spark's own.
  *
  * Recorded sizes are load-bearing: the Parquet reader locates the footer
  * from them. A file that vanished fails in the scan task, not at planning.
  * Statuses carry no modification time (`_metadata.file_modification_time`
  * reads 0) and no block locations.
  */
private[graft] object SnapshotScan {

  /** A file index over `files` (table-relative label → recorded size)
    * under `tableDir`. `schema` is the full table schema, partition
    * columns included; with no files, its `partitionKeys` fields are the
    * partition schema (there are no paths to infer them from).
    */
  def fileIndex(spark: SparkSession, tableDir: String, schema: StructType,
      partitionKeys: Seq[String], files: Seq[(String, Long)],
      options: Map[String, String] = Map.empty): InMemoryFileIndex = {
    val root = DatasetMetadata.fs(spark, tableDir).makeQualified(new Path(tableDir))
    val statuses = files.map { case (label, size) =>
      new FileStatus(size, false, 0, 0L, 0L, new Path(s"$root/$label"))
    }
    val byPath = statuses.map(s => s.getPath -> Array(s)).toMap
    val known = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val empty =
      if (files.nonEmpty) None
      else Some(PartitionSpec(StructType(schema.filter(f => partitionKeys.contains(f.name))), Nil))
    new InMemoryFileIndex(spark, statuses.map(_.getPath),
      Map("basePath" -> root.toString) ++ options, Some(schema), known, empty)
  }

  /** The DataFrame a `spark.read.schema(schema).option("basePath",
    * tableDir).parquet(files…)` would give, without its listing, stats
    * and inference.
    */
  def files(spark: SparkSession, tableDir: String, schema: StructType,
      partitionKeys: Seq[String], files: Seq[(String, Long)]): DataFrame = {
    val index = fileIndex(spark, tableDir, schema, partitionKeys, files)
    val partitionSchema = index.partitionSchema
    val dataSchema = StructType(schema.filterNot(f => partitionSchema.fieldNames.contains(f.name)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      GraftBridge.asNullable(dataSchema), None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** `labels` of snapshot `md`, read with the snapshot's schema. Every
    * label must be one the snapshot records.
    */
  def apply(spark: SparkSession, base: String, md: DatasetMetadata, labels: Seq[String]): DataFrame =
    files(spark, md.tableDir(base), md.schema, md.partitionKeys, sized(md, labels))

  /** `labels` with their recorded sizes; a label the snapshot does not
    * record (or records without a size) fails here, not as a footer error.
    */
  def sized(md: DatasetMetadata, labels: Seq[String]): Seq[(String, Long)] =
    labels.map { l =>
      val size = md.sizeOf(l)
      if (size <= 0L)
        throw new IllegalStateException(
          s"label '$l' has no recorded size in snapshot v${md.version} of '${md.uuid}'")
      l -> size
    }
}
