package graft.ktk

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Sidecar rows read on the driver, with no Spark job — the secondary
  * index probe of the reference (core/index.py:219-257) answers from driver
  * memory too. A sidecar dir is listed the way `spark.read.parquet` lists
  * it, the schema comes from the first part file's footer as Spark infers
  * it, and every part decodes through Spark's own Parquet reader (rows, not
  * batches), so values convert exactly as in a scan.
  *
  * Decoded parts are cached per JVM, keyed by part-file path, length and
  * modification time. Part files are immutable: sidecar dirs are
  * nonce-named, append-only commits only add part files, and a legacy
  * in-place rewrite writes new part names. The cache is an LRU bounded by
  * a fixed budget of exploded rows (a row weighs one plus the length of its
  * array columns, i.e. its `(value, label)` pairs); a part over the budget
  * is streamed through the same path and not kept.
  */
private[ktk] object SidecarRows {

  private val MaxCachedRows = 1_000_000L

  /** (base, dataset uuid, part file, length, modification time) */
  private type Key = (String, String, String, Long, Long)
  private final case class Part(schema: StructType, rows: Array[InternalRow], weight: Long)

  private var cachedRows = 0L
  private val cache = new java.util.LinkedHashMap[Key, Part](64, 0.75f, true)

  private def lookup(k: Key): Option[Part] = cache.synchronized(Option(cache.get(k)))

  private def put(k: Key, p: Part): Unit = cache.synchronized {
    val prev = cache.put(k, p)
    cachedRows += p.weight - (if (prev == null) 0L else prev.weight)
    val it = cache.entrySet().iterator()
    while (cachedRows > MaxCachedRows && it.hasNext) {
      cachedRows -= it.next().getValue.weight
      it.remove()
    }
  }

  /** Cached parts of one dataset — test observability for [[invalidate]]. */
  private[ktk] def cachedParts(base: String, uuid: String): Int = cache.synchronized {
    cache.keySet().toArray.count { case (b, u, _, _, _) => b == base && u == uuid }
  }

  /** Drop every cached part of one dataset (see [[DatasetMetadata.invalidateCache]]). */
  def invalidate(base: String, uuid: String): Unit = cache.synchronized {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == base && e.getKey._2 == uuid) {
        cachedRows -= e.getValue.weight
        it.remove()
      }
    }
  }

  /** The part files of the parquet dir (or single file) at `dir`, listed
    * as `spark.read.parquet` lists them. A missing dir fails with the
    * filesystem's FileNotFoundException, an empty one too.
    */
  private def parts(conf: Configuration, dir: Path): Seq[FileStatus] = {
    // HadoopFSUtils.shouldFilterOutPathName: `_`/`.` names are not data
    val ps = dir.getFileSystem(conf).listStatus(dir).toSeq
      .filterNot { s => val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") }
      .sortBy(_.getPath.getName)
    if (ps.isEmpty) throw new java.io.FileNotFoundException(s"sidecar $dir holds no part files")
    ps
  }

  /** The schema Spark would infer for `part`, from its footer on the driver. */
  private def footerSchema(spark: SparkSession, conf: Configuration, part: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(part, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(part.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The parquet dir (or file) at `dir` as a DataFrame whose schema comes
    * from its first part's footer, read on the driver: the schema-inference
    * job of a bare `spark.read.parquet` is never started. For sidecars,
    * whose parts share one schema.
    */
  def frame(spark: SparkSession, dir: Path): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    spark.read.schema(footerSchema(spark, conf, parts(conf, dir).head)).parquet(dir.toString)
  }

  /** Visit every row of the sidecar at `dir` (of dataset `uuid` under
    * `base`): `visitor` receives the sidecar schema once and returns the
    * per-row visit, which must not keep the row it is handed. A missing dir
    * fails with the filesystem's FileNotFoundException, an empty one too.
    */
  def scan(spark: SparkSession, base: String, uuid: String, dir: Path)(
      visitor: StructType => InternalRow => Unit): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val parts = this.parts(conf, dir)
    def key(f: FileStatus): Key =
      (base, uuid, f.getPath.toString, f.getLen, f.getModificationTime)
    val schema = lookup(key(parts.head)).map(_.schema)
      .getOrElse(footerSchema(spark, conf, parts.head))
    // the relation's data schema is nullable (DataSource.resolveRelation)
    val dataSchema = StructType(schema.fields.map(_.copy(nullable = true)))
    val visit = visitor(dataSchema)
    lazy val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, dataSchema,
      new StructType(), dataSchema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    lazy val toUnsafe = UnsafeProjection.create(dataSchema)
    val arrays = dataSchema.fields.indices.filter(i => dataSchema(i).dataType.isInstanceOf[ArrayType])
    def weigh(r: InternalRow): Long =
      1L + arrays.map(i => if (r.isNullAt(i)) 0L else r.getArray(i).numElements().toLong).sum
    parts.foreach { f =>
      val k = key(f)
      lookup(k).filter(_.schema == dataSchema) match {
        case Some(p) => p.rows.foreach(visit)
        case None =>
          val kept = ArrayBuffer.empty[InternalRow]
          var weight = 0L
          val it = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), 0L,
            f.getLen, Array.empty, f.getModificationTime, f.getLen))
          try it.foreach { r =>
            val u = toUnsafe(r)
            visit(u)
            if (weight <= MaxCachedRows) {
              weight += weigh(u)
              if (weight <= MaxCachedRows) kept += u.copy() else kept.clear()
            }
          } finally it match {
            case c: java.io.Closeable => c.close()
            case _                    => ()
          }
          if (weight <= MaxCachedRows) put(k, Part(dataSchema, kept.toArray, weight))
      }
    }
  }
}
