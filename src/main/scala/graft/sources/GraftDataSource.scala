package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{PredLiteral, PredOp, Predicates}
import graft.ktk.{DatasetMetadata, DeleteVectors, Ktk, Sidecars, SnapshotScan}

/** DataSource V2 connector: `spark.read.format("graft").option("uuid", u)
  * .load(base)` — the optional Catalyst-integrated surface from SURVEY §4.
  *
  * Planning: [[SupportsPushDownFilters]] receives Catalyst's pushed filters;
  * those over partition keys + secondary indices drive the same driver-side
  * label pruning as [[Ktk.readTable]] (an O(metadata) operation). Execution
  * then delegates to Spark's own vectorized [[ParquetScan]] over the pruned
  * in-memory file index, so column pruning, row-group stats pushdown,
  * whole-stage codegen and AQE all behave exactly as a native parquet scan.
  * The index is built from the snapshot ([[SnapshotScan]]): each file's
  * status comes from its recorded size, so planning starts no listing job
  * and stats no file.
  * All filters are reported back as residual — Spark re-evaluates them after
  * the scan, preserving exact semantics.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft"

  /** Every option [[createSink]] reads, lower-cased, plus the query's own
    * `checkpointLocation`; any other is refused rather than ignored.
    */
  private val SinkOptions = Set("path", "uuid", "keys", "opcol", "deleteop", "versioncol",
    "sortby", "compactevery", "evolveschema", "checkpointlocation")

  /** `df.writeStream.format("graft").option("uuid", u).start(base)` — the
    * streaming write surface ([[graft.streaming.GraftSink]]). GraftTable
    * does not declare STREAMING_WRITE, so `DataStreamWriter` falls back to
    * this V1 sink (the Delta packaging). `.partitionBy(...)` must be absent
    * or match the dataset's layout — partitioning is a dataset property.
    */
  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    // normalize option keys: Spark hands V1 sinks a case-insensitive map in
    // current versions, but that is undocumented — don't depend on it
    val params = parameters.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v
    }
    val unknown = (params.keySet -- SinkOptions).toSeq.sorted
    require(unknown.isEmpty, s"graft sink does not take option(s) ${unknown.mkString(", ")}; " +
      s"it takes ${SinkOptions.toSeq.sorted.mkString(", ")}. Fragment folding has no option: " +
      s"each commit folds sidecar and deletion-vector fragments at the fixed bound of ${Sidecars.MaxFragments}")
    val base = params.getOrElse("path",
      throw new IllegalArgumentException("graft sink requires .start(<base path>)"))
    val uuid = params.getOrElse("uuid",
      throw new IllegalArgumentException("graft sink requires .option(\"uuid\", <dataset>)"))
    // the dataset must exist — schema/partitioning are dataset properties
    val md = DatasetMetadata.load(sqlContext.sparkSession, base, uuid)
    if (partitionColumns.nonEmpty && partitionColumns != md.partitionKeys)
      throw new IllegalArgumentException(
        s"partitionBy(${partitionColumns.mkString(", ")}) does not match dataset " +
          s"'$uuid' partitioning (${md.partitionKeys.mkString(", ")}); " +
          "partitioning is fixed at dataset creation")
    def csv(k: String): Seq[String] =
      params.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    new graft.streaming.GraftSink(
      base, uuid, outputMode,
      keys = csv("keys"),
      opCol = params.get("opcol").filter(_.nonEmpty),
      deleteOp = params.getOrElse("deleteop", "D"),
      versionCol = params.get("versioncol").filter(_.nonEmpty),
      sortBy = csv("sortby"),
      compactEvery = params.get("compactevery").map(_.toInt).getOrElse(0),
      evolveSchema = params.get("evolveschema").exists(_.toBoolean))
  }

  private def load(options: CaseInsensitiveStringMap): (String, DatasetMetadata) = {
    val base = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft source requires .load(<base path>)"))
    val uuid = Option(options.get("uuid")).getOrElse(
      throw new IllegalArgumentException("graft source requires .option(\"uuid\", <dataset>)"))
    // time travel for the SQL surface: .option("asOfVersion", v) reads the
    // snapshot; sidecar registries are dropped (canonical sidecars hold
    // post-snapshot content — same rule as Ktk.readTableAsOf)
    Option(options.get("asOfVersion")) match {
      case Some(v) =>
        val snap = DatasetMetadata.loadVersion(SparkSession.active, base, uuid, v.toLong)
        (base, Sidecars.without(snap))
      case None =>
        (base, DatasetMetadata.load(SparkSession.active, base, uuid))
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTable.scanOrder(load(options)._2)

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (base, md) = load(opts)
    new GraftTable(base, md)
  }

  override def supportsExternalMetadata(): Boolean = false
}

final class GraftTable(base: String, md: DatasetMetadata)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  private[graft] def basePath: String = base
  private[graft] def datasetMetadata: DatasetMetadata = md
  override def name(): String = s"graft.${md.uuid}"

  /** SQL `DELETE FROM t WHERE ...` → one deletion-vector commit
    * ([[Ktk.deleteRows]] merge-on-read mechanics, zero file rewrites);
    * `DELETE FROM t` / `TRUNCATE TABLE t` (AlwaysTrue) → a metadata-only
    * truncate commit (files stay until gc, time travel intact). Only
    * filters expressible in the engine's DNF predicate algebra are
    * claimed — Spark fails unsupported shapes at analysis instead of
    * deleting the wrong rows.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftTable.filtersToDnf(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    if (filters.isEmpty || filters.forall(_ == sources.AlwaysTrue)) {
      // truncate: drop every file reference in ONE commit — O(metadata)
      val cur = DatasetMetadata.load(spark, base, md.uuid)
      DatasetMetadata.store(spark, base,
        cur.copy(partitions = Map.empty, partitionSeq = Map.empty, deletes = Nil),
        parentMd = Some(cur), operation = "TRUNCATE")
      ()
    } else {
      val dnf = GraftTable.filtersToDnf(filters).getOrElse(
        throw new UnsupportedOperationException(
          s"cannot translate delete condition: ${filters.mkString(", ")}"))
      Ktk.deleteRows(spark, base, md.uuid, predicates = Predicates(dnf))
      ()
    }
  }
  // ------------------------------------------- SQL partition management
  //
  // SHOW PARTITIONS / ALTER TABLE DROP PARTITION: both are O(metadata) —
  // the listing parses the label paths already in the commit blob, and a
  // drop is ONE deleteScope commit (files leave the referenced set, time
  // travel intact, gc reclaims later — the same mechanics as INSERT
  // OVERWRITE PARTITION). Partitions are CREATED by writes in this
  // engine, so ADD/RENAME PARTITION refuse.

  override def partitionSchema(): StructType =
    StructType(md.partitionKeys.map(k => md.schema(md.schema.fieldIndex(k))))

  /** Distinct live partition tuples, typed per [[partitionSchema]];
    * `names`/`ident` restrict to a prefix match (Spark's partial-spec
    * SHOW PARTITIONS shape).
    */
  override def listPartitionIdentifiers(
      names: Array[String], ident: InternalRow): Array[InternalRow] = {
    require(names.length == ident.numFields, "names and ident must align")
    val schema = partitionSchema()
    val keyIdx = names.map(n => schema.fieldIndex(n))
    val tuples = md.partitions.keySet.toSeq
      .map(l => md.partitionValues(l))
      .map(vals => md.partitionKeys.map(vals(_)))
      .distinct.sorted(Ordering.Implicits.seqOrdering[Seq, String])
    val typed = tuples.map(t => InternalRow.fromSeq(
      t.zipWithIndex.map { case (s, i) => GraftTable.typedPartitionValue(s, schema(i).dataType) }))
    typed.filter { row =>
      keyIdx.indices.forall { j =>
        val i = keyIdx(j)
        val a = row.get(i, schema(i).dataType)
        val b = ident.get(j, schema(i).dataType)
        a == b
      }
    }.toArray
  }

  /** `ALTER TABLE ... DROP PARTITION (p = 'x')` → one deleteScope commit;
    * false when the partition has no live files (Spark reports
    * NoSuchPartition).
    */
  override def dropPartition(ident: InternalRow): Boolean = {
    val schema = partitionSchema()
    val lits = md.partitionKeys.zipWithIndex.map { case (k, i) =>
      PredLiteral(k, PredOp.Eq,
        GraftTable.partitionValueForMatch(ident.get(i, schema(i).dataType), schema(i).dataType))
    }
    val scope = Predicates(Seq(lits))
    val spark = SparkSession.active
    val cur = DatasetMetadata.load(spark, base, md.uuid)
    if (!cur.partitions.keySet.exists(l => scope.matchesValues(cur.partitionValues(l)))) false
    else { Ktk.update(spark, base, md.uuid, None, deleteScope = scope); true }
  }

  override def createPartition(
      ident: InternalRow, properties: JMap[String, String]): Unit =
    throw new UnsupportedOperationException(
      "partitions are created by writes (INSERT/update); ADD PARTITION has no meaning here")

  override def replacePartitionMetadata(
      ident: InternalRow, properties: JMap[String, String]): Unit =
    throw new UnsupportedOperationException("partition metadata is not supported")

  override def loadPartitionMetadata(ident: InternalRow): JMap[String, String] =
    java.util.Collections.emptyMap()

  // Present columns in SCAN order — payload (metadata order) then
  // partition keys — so the relation's output matches the parquet scan's
  // readSchema exactly and the analyzer never inserts a reordering
  // Project. DELETE FROM planning requires the bare scan relation
  // (DataSourceV2Strategy rejects Project-wrapped ones); SELECTs are
  // order-insensitive. The library surface (Ktk.readTable) keeps the
  // reference's partition-keys-first order.
  override def schema(): StructType = GraftTable.scanOrder(md)
  /** Declared identity partitioning — lets the analyzer resolve
    * `INSERT OVERWRITE ... PARTITION (p = ...)` clauses and SHOW/DESCRIBE
    * report the layout.
    */
  override def partitioning(): Array[Transform] =
    md.partitionKeys.map(org.apache.spark.sql.connector.expressions.Expressions.identity).toArray
  /** User table properties (SHOW TBLPROPERTIES); the reserved `graft.`
    * engine keys (sort order, seq watermark, constraints, …) stay internal.
    */
  override def properties(): JMap[String, String] =
    md.metadata.filterNot(_._1.startsWith("graft.")).asJava
  // AUTOMATIC_SCHEMA_EVOLUTION makes `MERGE ... WITH SCHEMA EVOLUTION`
  // work: Spark's ResolveMergeIntoSchemaEvolution computes the ADD COLUMN
  // deltas from the source schema and routes them through
  // GraftCatalog.alterTable (one additive-evolution commit) before the
  // merge itself runs — the only reader of this capability.
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(base, md, options)

  /** DataFrame-writer / SQL write surface — a V1Write bridge into
    * [[Ktk.update]], always ONE atomic versioned commit (schema-validated,
    * sidecars merged incrementally, CHECK constraints enforced):
    *
    *   - append (`INSERT INTO` / `.mode("append")`) — plain incremental
    *     update;
    *   - `INSERT OVERWRITE t SELECT ...` / `.mode("overwrite")` — a
    *     VERSIONED content swap (`replaceAll`): old files leave the
    *     referenced set in the same commit the new files land in, history
    *     and time travel stay intact (gc reclaims later). This is NOT
    *     `Ktk.store(overwrite = true)`, which physically clobbers the
    *     version line;
    *   - `INSERT OVERWRITE t PARTITION (p = 'x') SELECT ...` (static
    *     partition overwrite) — the filter must be expressible over
    *     partition keys in the engine's predicate algebra; it becomes the
    *     commit's `deleteScope`, so only the matched partitions swap;
    *   - dynamic partition overwrite
    *     (`spark.sql.sources.partitionOverwriteMode=dynamic`) — lowered by
    *     [[GraftDmlRule]] before write planning to
    *     `Ktk.update(dynamicPartitionOverwrite = true)`: the commit drops
    *     exactly the existing files whose partition tuple the APPENDED
    *     labels re-wrote (one pass over the source), every other
    *     partition's files survive untouched.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // None = append; Some(empty) = full replace; Some(preds) = scoped.
      // Dynamic partition overwrite is lowered by GraftDmlRule BEFORE the
      // write builder is consulted (OverwritePartitionsDynamicExec has no
      // V1 fallback); a session without the graft extensions gets Spark's
      // own "table does not support dynamic overwrite" analysis error.
      private var overwriteScope: Option[Predicates] = None

      override def truncate(): WriteBuilder = {
        overwriteScope = Some(Predicates.empty); this
      }

      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.isEmpty || filters.forall(_ == sources.AlwaysTrue)) return truncate()
        val dnf = GraftTable.filtersToDnf(filters).getOrElse(
          throw new UnsupportedOperationException(
            s"overwrite condition not expressible in the graft predicate algebra: " +
              filters.mkString(", ")))
        val scope = Predicates(dnf)
        val nonPart = scope.columns.filterNot(md.partitionKeys.contains)
        if (nonPart.nonEmpty)
          throw new UnsupportedOperationException(
            s"INSERT OVERWRITE scope must cover partition key columns only; " +
              s"got non-partition column(s): ${nonPart.mkString(", ")}")
        overwriteScope = Some(scope); this
      }

      override def build(): Write = new V1Write {
        override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
            overwriteScope match {
              case None =>
                Ktk.update(SparkSession.active, base, md.uuid, Some(data))
              case Some(scope) if scope.isEmpty =>
                Ktk.update(SparkSession.active, base, md.uuid, Some(data),
                  replaceAll = true)
              case Some(scope) =>
                Ktk.update(SparkSession.active, base, md.uuid, Some(data),
                  deleteScope = scope, requireAppendsInScope = true)
            }
            ()
          }
      }
    }
}

object GraftTable {
  import org.apache.spark.sql.types._

  /** Label-path partition string → the typed value an InternalRow carries
    * for `dt` (SHOW PARTITIONS output). Mirrors [[partitionValueForMatch]].
    */
  private[sources] def typedPartitionValue(s: String, dt: DataType): Any = dt match {
    case StringType  => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case LongType    => s.toLong
    case IntegerType => s.toInt
    case ShortType   => s.toShort
    case ByteType    => s.toByte
    case DoubleType  => s.toDouble
    case FloatType   => s.toFloat
    case BooleanType => s.toBoolean
    case DateType =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(java.sql.Date.valueOf(s))
    case other => throw new UnsupportedOperationException(
      s"partition management over $other partition keys is not supported")
  }

  /** InternalRow-typed partition value → the JVM value the engine's
    * predicate comparator coerces against label-path strings (dates go
    * back to their ISO string — numeric coercion would mis-compare them).
    */
  private[sources] def partitionValueForMatch(v: Any, dt: DataType): Any = (v, dt) match {
    case (u: org.apache.spark.unsafe.types.UTF8String, StringType) => u.toString
    case (days: Integer, DateType) =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaDate(days).toString
    case (x, _) => x
  }

  /** Connector-surface column order: payload fields (metadata order),
    * then partition keys — the exact order the delegated parquet scan
    * produces (`readDataSchema ++ readPartitionSchema`).
    */
  private[sources] def scanOrder(md: DatasetMetadata): StructType = {
    val partCols = md.partitionKeys.toSet
    StructType(md.schema.fields.filterNot(f => partCols(f.name)) ++
      md.schema.fields.filter(f => partCols(f.name)))
  }

  /** sources.Filter conjunction → the engine's DNF (disjunction of
    * conjunctions of typed literals); None when ANY shape is outside the
    * algebra — delete claims must be exact, not best-effort.
    */
  private[sources] def filtersToDnf(filters: Array[Filter]): Option[Seq[Seq[PredLiteral]]] = {
    def leaf(f: Filter): Option[PredLiteral] = f match {
      case sources.EqualTo(c, v)            => Some(PredLiteral(c, PredOp.Eq, v))
      // the engine's Eq is already null-safe on partition values (a static
      // PARTITION (p = 'x') clause arrives as EqualNullSafe)
      case sources.EqualNullSafe(c, v)      => Some(PredLiteral(c, PredOp.Eq, v))
      case sources.GreaterThan(c, v)        => Some(PredLiteral(c, PredOp.Gt, v))
      case sources.GreaterThanOrEqual(c, v) => Some(PredLiteral(c, PredOp.Ge, v))
      case sources.LessThan(c, v)           => Some(PredLiteral(c, PredOp.Lt, v))
      case sources.LessThanOrEqual(c, v)    => Some(PredLiteral(c, PredOp.Le, v))
      case sources.In(c, vs)                => Some(PredLiteral(c, PredOp.In, vs.toSeq))
      case sources.IsNull(c)                => Some(PredLiteral(c, PredOp.Eq, null))
      case sources.IsNotNull(c)             => Some(PredLiteral(c, PredOp.Ne, null))
      case _                                => None
    }
    def dnf(f: Filter): Option[Seq[Seq[PredLiteral]]] = f match {
      case sources.And(l, r) =>
        for { a <- dnf(l); b <- dnf(r) } yield for { x <- a; y <- b } yield x ++ y
      case sources.Or(l, r) =>
        for { a <- dnf(l); b <- dnf(r) } yield a ++ b
      case sources.AlwaysTrue => Some(Seq(Seq.empty))
      case other => leaf(other).map(l => Seq(Seq(l)))
    }
    // the array is an implicit conjunction
    filters.foldLeft(Option(Seq(Seq.empty[PredLiteral]))) { (acc, f) =>
      for { a <- acc; b <- dnf(f) } yield for { x <- a; y <- b } yield x ++ y
    }
  }
}

final class GraftScanBuilder(base: String, md: DatasetMetadata, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var residual: Array[Filter] = Array.empty
  private var requiredSchema: StructType = md.schema
  private var aggPushed = false

  /** Filters the label pruning answers EXACTLY, so Spark need not re-apply
    * them post-scan: equality/IN on a partition key whose literal encodes
    * verbatim into the label path (string values with only URL-safe
    * characters, integral values), plus IsNotNull on a partition key (the
    * engine forbids null partition values). Consuming these is what makes
    * `SELECT count(*) ... WHERE <partition filter>` answerable from parquet
    * FOOTERS alone — Spark only attempts aggregate pushdown when no
    * post-scan filter remains. Everything else stays residual: pruning is
    * then best-effort and Spark re-applies the exact predicate.
    */
  private def consumable(f: Filter): Boolean = {
    val partCols = md.partitionKeys.toSet
    def exactLit(c: String, v: Any): Boolean = v != null && (md.schema(c).dataType match {
      case org.apache.spark.sql.types.StringType => v match {
        case s: String => s.nonEmpty && graft.core.UrlCodec.quote(s) == s
        case _         => false
      }
      // the label comparator goes through Double, exact only below 2^53 —
      // larger longs stay residual rather than risking a false label match
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => v match {
        // STRICT bound: 2^53 itself is Double-representable but collides
        // with 2^53 + 1, so equality there could match the wrong label
        case l: java.lang.Long    => math.abs(l) < (1L << 53)
        case _: java.lang.Integer => true
        case _                    => false
      }
      // date labels are canonical ISO (both the writer's formatter and
      // Date/LocalDate.toString), and the comparator falls back to exact
      // string equality for them
      case org.apache.spark.sql.types.DateType => v match {
        case _: java.sql.Date | _: java.time.LocalDate => true
        case _                                         => false
      }
      case _ => false
    })
    f match {
      case sources.EqualTo(c, v) if partCols(c)               => exactLit(c, v)
      case sources.EqualNullSafe(c, v) if partCols(c)         => exactLit(c, v)
      case sources.In(c, vs) if partCols(c) && vs.nonEmpty    => vs.forall(exactLit(c, _))
      case sources.IsNotNull(c) if partCols(c)                => true
      case _                                                  => false
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    // exact-partition filters are consumed (enforced by the label list the
    // scan is built from); the rest stays residual
    residual = filters.filterNot(consumable)
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed.filter(consumable)

  override def pruneColumns(required: StructType): Unit = {
    // keep metadata-schema field order/types; empty projection (count(*))
    // keeps zero data columns and lets the parquet reader count rows
    requiredSchema = StructType(md.schema.fields.filter(f => required.fieldNames.contains(f.name)))
  }

  /** sources.Filter → single-conjunction [[Predicates]] over prunable
    * columns only (partition keys + indexed columns); unsupported shapes are
    * simply not used for pruning.
    */
  private def pruningPredicates: Predicates = {
    val prunable = md.partitionKeys.toSet ++ md.indices.keySet
    def lit(f: Filter): Option[PredLiteral] = f match {
      case sources.EqualTo(c, v) if prunable(c)            => Some(PredLiteral(c, PredOp.Eq, v))
      // the engine's Eq is null-safe on partition values — and consumed
      // `<=>` filters MUST prune here (nothing re-applies them post-scan)
      case sources.EqualNullSafe(c, v) if prunable(c)      => Some(PredLiteral(c, PredOp.Eq, v))
      case sources.GreaterThan(c, v) if prunable(c)        => Some(PredLiteral(c, PredOp.Gt, v))
      case sources.GreaterThanOrEqual(c, v) if prunable(c) => Some(PredLiteral(c, PredOp.Ge, v))
      case sources.LessThan(c, v) if prunable(c)           => Some(PredLiteral(c, PredOp.Lt, v))
      case sources.LessThanOrEqual(c, v) if prunable(c)    => Some(PredLiteral(c, PredOp.Le, v))
      case sources.In(c, vs) if prunable(c)                => Some(PredLiteral(c, PredOp.In, vs.toSeq))
      case sources.IsNull(c) if prunable(c)                => Some(PredLiteral(c, PredOp.Eq, null))
      case sources.IsNotNull(c) if prunable(c)             => Some(PredLiteral(c, PredOp.Ne, null))
      case _                                               => None
    }
    val lits = pushed.flatMap(lit).toSeq
    if (lits.isEmpty) Predicates.empty else Predicates(Seq(lits))
  }

  private def prunedFileIndex(spark: SparkSession): InMemoryFileIndex =
    fileIndexFor(spark, Ktk.queryLabels(spark, base, md, pruningPredicates))

  // planned from the snapshot's recorded sizes: no listing, no stats (a
  // scan pruned to NOTHING reports the partition schema explicitly —
  // FileScan requires every read partition column to exist in it)
  private def fileIndexFor(spark: SparkSession, labels: Seq[String]): InMemoryFileIndex =
    SnapshotScan.fileIndex(spark, md.tableDir(base), md.schema, md.partitionKeys,
      SnapshotScan.sized(md, labels), options.asScala.toMap)

  /** Aggregate pushdown (MIN/MAX/COUNT, optional GROUP BY on partition
    * columns) delegates wholesale to Spark's [[ParquetScanBuilder]], whose
    * reader answers from parquet FOOTER statistics — zero data pages read.
    * This is the scan-level twin of [[Ktk.footerStats]] (≙ the reference's
    * get_parquet_metadata, io_components/metapartition.py:1720-1771): a
    * `SELECT count(*), min(x), max(x)` over a 100 TB dataset touches only
    * footers. Spark only attempts this when no post-scan filters exist, and
    * [[AggregatePushDownUtils]] rejects unsupported types/groupings, so
    * falling back to a normal scan is automatic. Gated by the standard
    * `spark.sql.parquet.aggregatePushdown` conf (checked by the delegate).
    */
  private lazy val innerAggBuilder: ParquetScanBuilder = {
    val spark = SparkSession.active
    val partCols = md.partitionKeys.toSet
    ParquetScanBuilder(
      spark, prunedFileIndex(spark), md.schema,
      StructType(md.schema.fields.filterNot(f => partCols(f.name))), options)
  }

  // footer statistics count physically-present rows — with row-level
  // deletes pending they would answer WRONG, so pushdown turns off
  private def hasRowDeletes: Boolean = md.deleteFragments.nonEmpty

  // consumed (exact-partition) filters are fine: the footer reads run over
  // the pruned file index, which enforces them exactly — only RESIDUAL
  // filters force a row-level scan
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    residual.isEmpty && !hasRowDeletes && innerAggBuilder.supportCompletePushDown(aggregation)

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (residual.nonEmpty || hasRowDeletes) return false
    aggPushed = innerAggBuilder.pushAggregation(aggregation)
    aggPushed
  }

  override def build(): Scan = {
    val spark = SparkSession.active
    if (aggPushed) {
      innerAggBuilder.pruneColumns(requiredSchema)
      return innerAggBuilder.build()
    }
    val labels = Ktk.queryLabels(spark, base, md, pruningPredicates)
    // merge-on-read split, same as Ktk.readTable: only the files the
    // deletion vectors touch pay the row-position filter; clean files
    // scan through the stock vectorized path untouched.
    // `dvside` marks a branch of GraftDvSplitRule's logical Union: "clean"
    // builds ONLY the vectorized clean-file scan, "dirty" ONLY the
    // row-based tombstone-filtered scan; absent (extensions not installed)
    // falls back to the combined single-exec GraftDvScan.
    val dvSide = Option(options.get(GraftDvSplitRule.DvSideOption))
    val dirtyAll: Set[String] =
      if (hasRowDeletes) DeleteVectors.labels(spark, base, md) else Set.empty
    // qualified table root, "/"-terminated: the DV scans relativize their
    // planned file paths against EXACTLY this prefix to recover the label
    // that keys the broadcast tombstone map (loud on mismatch — see
    // Ktk.stripLabelPrefix)
    lazy val labelPrefix: String = {
      val tp = new Path(md.tableDir(base))
      tp.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(tp).toString + "/"
    }
    val dirtyL = labels.filter(dirtyAll.contains)
    val cleanL = labels.filterNot(dirtyAll.contains)
    val partCols = md.partitionKeys.toSet
    val dataSchema = StructType(md.schema.fields.filterNot(f => partCols(f.name)))
    val readDataSchema = StructType(requiredSchema.fields.filterNot(f => partCols(f.name)))
    val readPartitionSchema = StructType(requiredSchema.fields.filter(f => partCols(f.name)))
    val dataFilters = pushed.filter(_.references.forall(c => !partCols(c)))
    // dirty-side scan recipe, shared by the split branch and the combined
    // fallback: a second ParquetScan whose readDataSchema carries Spark's
    // temporary row-index column — the reader fills it with the
    // file-absolute position (row-group skipping accounted for), the exact
    // coordinate the deletion vectors were recorded in. MUST be nullable:
    // the column is absent from the data files (the reader's row-index
    // generator fills it), and the parquet reader rejects
    // required-but-missing columns.
    def buildDirtyScan(): (ParquetScan, org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]) = {
      val rowIdx = org.apache.spark.sql.types.StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        org.apache.spark.sql.types.LongType, nullable = true)
      require(!md.schema.fieldNames.contains(rowIdx.name),
        s"dataset '${md.uuid}' has a column named '${rowIdx.name}', which collides " +
          "with Spark's reserved row-index column needed to apply deletion vectors")
      val dirtyScan = ParquetScan(
        spark, spark.sessionState.newHadoopConf(), fileIndexFor(spark, dirtyL),
        dataSchema, StructType(readDataSchema.fields :+ rowIdx), readPartitionSchema,
        dataFilters, options, None, Nil, Nil)
      val maxRows = options.getLong("maxDvScanRows", 10L * 1000 * 1000)
      val dv = DeleteVectors.collect(spark, base, md, dirtyL.toSet, maxRows)
      (dirtyScan, spark.sparkContext.broadcast(dv))
    }
    if (dvSide.contains("dirty")) {
      // the dirty branch of the logical split: only tombstone-touched
      // files, row-based, positions filtered against the broadcast vectors.
      // Returns BEFORE the clean-side scan is built — its file index over
      // every clean file (the expensive listing on a huge table) belongs
      // to the other union branch
      val (dirtyScan, dv) = buildDirtyScan()
      return new GraftDvDirtyScan(dirtyScan, dv, labelPrefix)
    }
    // ParquetScan subclass: identical batch behavior, plus toMicroBatchStream
    // for `spark.readStream.format("graft")` (commit-version change feed)
    val parquet = new GraftStreamableScan(
      spark, spark.sessionState.newHadoopConf(), fileIndexFor(spark, cleanL),
      dataSchema, readDataSchema, readPartitionSchema,
      dataFilters, options, base, md.uuid,
      // the streaming relation's declared order is the TABLE's (scan
      // order) — the stream reader projects rows into exactly this
      GraftTable.scanOrder(md))
    if (dirtyL.nonEmpty && dvSide.isEmpty) {
      val (dirtyScan, dv) = buildDirtyScan()
      return new GraftDvScan(parquet, dirtyScan, dv, labelPrefix)
    }
    // .option("keyed","true"): report KeyGroupedPartitioning over the hive
    // partition columns for storage-partitioned joins (see GraftKeyedScan).
    // Only meaningful when the projection retains every partition column
    // (otherwise the keys can't resolve against the scan output).
    // keyed scans read through the delegate's factory directly, which would
    // bypass the DV split above — only available while no dirty file is in
    // scope (fragments referencing only removed labels prune to clean)
    val keyed = options.getBoolean("keyed", false) &&
      md.partitionKeys.nonEmpty && dirtyAll.isEmpty &&
      md.partitionKeys.forall(requiredSchema.fieldNames.contains)
    if (keyed) new GraftKeyedScan(parquet, md.partitionKeys) else parquet
  }
}
