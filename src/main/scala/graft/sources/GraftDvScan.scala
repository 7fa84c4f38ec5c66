package graft.sources

import java.util.OptionalLong

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Deletion-vector-aware DSv2 batch scan (the merge-on-read read path of
  * SURVEY §2.9's connector, same split as `Ktk.readTable`): CLEAN files —
  * the overwhelming majority after routine maintenance — scan through the
  * stock vectorized [[ParquetScan]] exactly as if no delete had ever
  * happened; only the files the deletion vectors touch pay a row-position
  * filter. Dirty files read through a second ParquetScan whose
  * readDataSchema carries Spark's temporary row-index column (the same
  * file-absolute position `_metadata.row_index` exposes — and the same
  * coordinate the vectors were recorded in), one file per input partition
  * so each reader knows its label; the reader drops rows whose position is
  * in the label's broadcast tombstone set and projects the index column
  * away. This is how Delta/Iceberg readers apply DVs, re-expressed over
  * Spark's own reader instead of a custom one.
  *
  * This COMBINED scan is the fallback shape (one BatchScanExec, uniformly
  * row-based, because Spark refuses mixed columnar/row partitions in one
  * scan exec). Sessions built with [[graft.functions.GraftExtensions]]
  * instead plan the split at the LOGICAL level ([[GraftDvSplitRule]]): the
  * relation rewrites to a Union of a clean-side relation (fully vectorized
  * ParquetScan, as if no DV existed) and a dirty-side relation
  * ([[GraftDvDirtyScan]], row-based tombstone filter over only the touched
  * files) — so one pending GDPR delete no longer de-vectorizes a 100 TB
  * table read.
  */
final class GraftDvScan(
    clean: GraftStreamableScan,
    dirty: ParquetScan,
    dv: Broadcast[Map[String, Array[Long]]],
    labelPrefix: String)
  extends Scan with Batch with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = clean.readSchema()

  // runtime (DPP) filtering passes through: the clean delegate prunes its
  // own planning, the dirty side prunes here with the same best-effort
  // evaluator over the planned files' typed partition values
  @volatile private var runtimePreds:
    Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    clean.filterAttributes()

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    clean.filter(predicates)
    runtimePreds = predicates
  }

  override def description(): String = {
    val tombstones = dv.value.valuesIterator.map(_.length.toLong).sum
    s"GraftDvScan(dirtyFiles=${dv.value.size}, tombstones=$tombstones) " +
      clean.description()
  }

  override def toBatch: Batch = this

  // Spark refuses to mix columnar and row-based partitions inside one
  // BatchScanExec (DataSourceV2ScanExecBase.supportsColumnar), so while
  // tombstones are pending the WHOLE scan reads row-based — clean files
  // still skip the tombstone lookup entirely (dirtyLabel=None branch);
  // materializeDeletes/compact shed the vectors and restore the fully
  // vectorized plain scan
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED

  // the change feed is append-only by contract (deletes don't stream);
  // it never consults the file index, so the clean scan's stream is THE
  // stream
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    clean.toMicroBatchStream(checkpointLocation)

  override def estimateStatistics(): Statistics = new Statistics {
    private val c = clean.estimateStatistics()
    private val d = dirty.estimateStatistics()
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(c.sizeInBytes.orElse(0L) + d.sizeInBytes.orElse(0L))
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val cleanParts = clean.toBatch.planInputPartitions().map {
      case fp: FilePartition => GraftDvInputPartition(fp, None)
      case other => throw new IllegalStateException(s"unexpected partition $other")
    }
    // dirty side: regroup the planned splits ONE FILE PER PARTITION so the
    // reader knows which label's tombstone set applies (splits of the same
    // file stay together; positions are file-absolute either way)
    val files = GraftRuntimePrune(dirty.toBatch.planInputPartitions(),
        dirty.readPartitionSchema, runtimePreds, tag = "combined-dirty").flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(s"unexpected partition $other")
    }
    // toPath DECODES the SparkPath's URI form (space was %20, '%' was %25)
    // into the same coordinate system as labelPrefix (a qualified
    // Path.toString) and the broadcast tombstone map's metadata labels
    val dirtyParts = files.groupBy(_.filePath.toPath.toString).toSeq.sortBy(_._1)
      .zipWithIndex.map { case ((path, fs), i) =>
        // exact qualified-root strip (loud on mismatch): the label keys the
        // broadcast tombstone map — a mis-relativized label would silently
        // skip the row filter
        val label = graft.ktk.Ktk.stripLabelPrefix(path, labelPrefix)
        GraftDvInputPartition(FilePartition(cleanParts.length + i, fs.toArray), Some(label))
      }
    (cleanParts ++ dirtyParts).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftDvReaderFactory(
      clean.createReaderFactory(), dirty.createReaderFactory(), dv,
      from = dirty.readSchema(), to = readSchema())
}

/** The dirty HALF of the logical-level DV split ([[GraftDvSplitRule]]):
  * scans ONLY the files the deletion vectors touch, row-based, with the
  * broadcast tombstone filter — the clean half of the union keeps the
  * stock fully-vectorized ParquetScan. One file per input partition so
  * each reader knows which label's tombstone set applies.
  */
final class GraftDvDirtyScan(
    dirty: ParquetScan,
    dv: Broadcast[Map[String, Array[Long]]],
    labelPrefix: String)
  extends Scan with Batch with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  // the scan's declared output: the dirty delegate's read schema MINUS the
  // internal row-index column the tombstone filter consumes
  override def readSchema(): StructType =
    StructType(dirty.readSchema().fields.filterNot(
      _.name == ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME))

  @volatile private var runtimePreds:
    Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    dirty.readPartitionSchema.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    runtimePreds = predicates

  override def description(): String = {
    val tombstones = dv.value.valuesIterator.map(_.length.toLong).sum
    s"GraftDvDirtyScan(dirtyFiles=${dv.value.size}, tombstones=$tombstones) " +
      dirty.description()
  }

  override def toBatch: Batch = this

  // row-based throughout: every partition pays the tombstone filter here;
  // the clean union branch is where vectorization lives
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED

  override def estimateStatistics(): Statistics = dirty.estimateStatistics()

  override def planInputPartitions(): Array[InputPartition] = {
    val files = GraftRuntimePrune(dirty.toBatch.planInputPartitions(),
        dirty.readPartitionSchema, runtimePreds, tag = "dirty").flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(s"unexpected partition $other")
    }
    files.groupBy(_.filePath.toPath.toString).toSeq.sortBy(_._1)
      .zipWithIndex.map { case ((path, fs), i) =>
        val label = graft.ktk.Ktk.stripLabelPrefix(path, labelPrefix)
        GraftDvInputPartition(FilePartition(i, fs.toArray), Some(label)): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val f = dirty.createReaderFactory()
    // every partition carries Some(label), so the clean delegate slot is
    // never consulted
    GraftDvReaderFactory(f, f, dv, from = dirty.readSchema(), to = readSchema())
  }
}

/** Clean partitions delegate untouched (columnar included); dirty ones are
  * forced row-based and wrapped with the tombstone filter + projection.
  */
final case class GraftDvInputPartition(
    delegate: FilePartition, dirtyLabel: Option[String]) extends InputPartition {
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

final case class GraftDvReaderFactory(
    cleanF: PartitionReaderFactory,
    dirtyF: PartitionReaderFactory,
    dv: Broadcast[Map[String, Array[Long]]],
    from: StructType,
    to: StructType)
  extends PartitionReaderFactory {

  // uniformly row-based: see GraftDvScan.columnarSupportMode
  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    throw new UnsupportedOperationException(
      "DV-bearing scans read row-based (tombstone filter)")

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GraftDvInputPartition(d, None) => cleanF.createReader(d)
      case GraftDvInputPartition(d, Some(label)) =>
        val inner = dirtyF.createReader(d)
        val deleted = dv.value.getOrElse(label, Array.emptyLongArray)
        val fromAttrs = DataTypeUtils.toAttributes(from)
        val exprs = to.fields.toSeq.map(f => fromAttrs(from.fieldIndex(f.name)))
        val project = UnsafeProjection.create(exprs, fromAttrs)
        val posIdx = from.fieldIndex(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME)
        new PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (inner.next()) {
              val r = inner.get()
              if (java.util.Arrays.binarySearch(deleted, r.getLong(posIdx)) < 0) {
                cur = r
                return true
              }
            }
            false
          }
          override def get(): InternalRow = project(cur)
          override def close(): Unit = inner.close()
        }
      case other => throw new IllegalStateException(s"unexpected partition $other")
    }
}

/** Logical-level clean/dirty split for DV-bearing graft tables (injected by
  * [[graft.functions.GraftExtensions]]): a batch relation over a table with
  * PENDING deletion vectors rewrites to
  *
  * {{{ Union(relation[dvside=clean], relation[dvside=dirty]) }}}
  *
  * so the clean-file majority plans its own fully-VECTORIZED BatchScanExec
  * while only the tombstone-touched files pay the row-based filter
  * ([[GraftDvDirtyScan]]) — the Delta/Iceberg reader shape. Spark refuses
  * mixed columnar/row partitions inside ONE scan exec, so without this
  * rewrite a single pending tombstone de-vectorizes the entire table read
  * (the [[GraftDvScan]] fallback, still used when the extensions are not
  * installed). Runs in the operator-optimization batch, BEFORE
  * V2ScanRelationPushDown: filters and projections push through the Union
  * into each branch independently, and each branch prunes files through
  * the engine's partition/index/zone/bloom ladder as usual. The clean
  * branch keeps the original relation's output attribute ids (Union
  * derives its output from the first child), so upstream references are
  * untouched.
  */
object GraftDvSplitRule
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, Union, UpdateTable, V2WriteCommand}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
  import org.apache.spark.sql.util.CaseInsensitiveStringMap

  private[sources] val DvSideOption = "dvside"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // never rewrite a relation that is the TARGET of a command — DELETE/
    // UPDATE/MERGE/INSERT plan against the bare relation (a Union target is
    // an internal error in DataSourceV2Strategy). Only READ occurrences
    // split; the query side of a self-referencing write is a separate node
    // and still benefits.
    val targets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plan.foreach {
      case d: DeleteFromTable => targets.add(d.table); ()
      case u: UpdateTable     => targets.add(u.table); ()
      case m: MergeIntoTable  => targets.add(m.targetTable); ()
      case w: V2WriteCommand  => targets.add(w.table); ()
      case _                  => ()
    }
    plan.transform {
      case r: DataSourceV2Relation if !targets.contains(r) && splittable(r) =>
        val clean = r.copy(options = withSide(r.options, "clean"))
        // fresh attribute ids for the second branch — Union children may not
        // share output attributes
        val dirty = r.copy(
          output = r.output.map(_.newInstance()),
          options = withSide(r.options, "dirty"))
        Union(Seq(clean, dirty))
    }
  }

  private def withSide(opts: CaseInsensitiveStringMap, side: String): CaseInsensitiveStringMap = {
    val m = new java.util.HashMap[String, String](opts.asCaseSensitiveMap())
    m.put(DvSideOption, side)
    new CaseInsensitiveStringMap(m)
  }

  /** Fire once (the dvside guard), only for batch graft relations whose
    * snapshot has fragments touching at least one LIVE file. The label
    * probe is metadata-cached ([[graft.ktk.DeleteVectors.labels]]) —
    * O(fragments) small manifest reads, once per fragment per JVM.
    */
  private def splittable(r: DataSourceV2Relation): Boolean = r.table match {
    case t: GraftTable =>
      !r.options.containsKey(DvSideOption) &&
        !r.options.getBoolean("keyed", false) &&
        t.datasetMetadata.deleteFragments.nonEmpty &&
        graft.ktk.DeleteVectors.labels(
          org.apache.spark.sql.SparkSession.active, t.basePath, t.datasetMetadata)
          .exists(t.datasetMetadata.partitions.contains)
    case _ => false
  }
}
