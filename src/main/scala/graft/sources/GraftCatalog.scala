package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ktk.{DatasetMetadata, Ktk, Sidecars}

/** Catalyst [[TableCatalog]] over a graft base directory — the pure-SQL
  * surface (SURVEY §4's optional Catalyst integration, catalog tier):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.gk", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.gk.base", "/data/graft")
  *   spark.sql("SHOW TABLES IN gk.default")
  *   spark.sql("SELECT * FROM gk.default.orders WHERE o_orderkey = 1")
  *   spark.sql("INSERT INTO gk.default.orders SELECT ...")   // atomic commit
  *   spark.sql("INSERT OVERWRITE gk.default.orders PARTITION (p='x') SELECT ...")
  *   spark.sql("DELETE FROM gk.default.orders WHERE ...")    // deletion vectors
  *   spark.sql("CREATE TABLE gk.default.t (k BIGINT, p STRING) PARTITIONED BY (p)")
  *   spark.sql("ALTER TABLE gk.default.t ADD COLUMNS (note STRING)") // additive
  *   spark.sql("ALTER TABLE gk.default.t SET TBLPROPERTIES ('tier'='gold')")
  *   spark.sql("SELECT * FROM gk.default.t TIMESTAMP AS OF '2026-08-14T10:00:00Z'")
  *   spark.sql("DROP TABLE gk.default.t")
  * }}}
  *
  * Datasets live FLAT under `base` (the layout every other surface uses),
  * exposed as the single namespace `default`. Reads/writes/deletes all
  * route through the same versioned commit protocol as the programmatic
  * API — a SQL DELETE is a deletion-vector commit, an INSERT is one
  * atomic `update`. Scale shape: catalog calls are O(metadata); nothing
  * here touches data except through the pruned scan paths.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var base: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = Option(options.get("base")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' requires spark.sql.catalog.$name.base = <graft base dir>"))
  }

  override def name(): String = catalogName

  override def defaultNamespace(): Array[String] = Array("default")

  private def checkNs(namespace: Array[String]): Unit =
    require(namespace.isEmpty || namespace.sameElements(Array("default")),
      s"graft catalog has the single namespace 'default', got ${namespace.mkString(".")}")

  private def uuidOf(ident: Identifier): String = { checkNs(ident.namespace); ident.name }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    checkNs(namespace)
    DatasetMetadata.listDatasets(spark, base)
      .map(u => Identifier.of(Array("default"), u)).toArray
  }

  override def tableExists(ident: Identifier): Boolean = ident.namespace match {
    case Array("default", tbl) =>
      GraftMetadataTables.kinds(ident.name) && DatasetMetadata.exists(spark, base, tbl)
    case _ => DatasetMetadata.exists(spark, base, uuidOf(ident))
  }

  override def loadTable(ident: Identifier): Table = ident.namespace match {
    // Iceberg-style metadata tables: `SELECT * FROM <cat>.default.t.history`
    // resolves here as namespace ["default", "t"], name "history"
    case Array("default", tbl)
        if GraftMetadataTables.kinds(ident.name) && DatasetMetadata.exists(spark, base, tbl) =>
      GraftMetadataTables(spark, base, tbl, ident.name)
    case Array("default", _) => throw new NoSuchTableException(ident)
    case _ =>
      val uuid = uuidOf(ident)
      if (!DatasetMetadata.exists(spark, base, uuid))
        throw new NoSuchTableException(ident)
      new GraftTable(base, DatasetMetadata.load(spark, base, uuid))
  }

  /** SQL time travel: `SELECT ... FROM <cat>.default.t VERSION AS OF n`.
    * Same snapshot rule as `Ktk.readTableAsOf` / the DSv2 `asOfVersion`
    * option: canonical sidecar registries are dropped (they hold
    * post-snapshot content); inline zone maps travel in the blob.
    */
  override def loadTable(ident: Identifier, version: String): Table = ident.namespace match {
    case Array("default", tbl)
        if GraftMetadataTables.kinds(ident.name) && DatasetMetadata.exists(spark, base, tbl) =>
      // metadata tables travel too: the listing of that snapshot
      GraftMetadataTables(spark, base, tbl, ident.name, Some(version.toLong))
    case Array("default", _) => throw new NoSuchTableException(ident)
    case _ =>
      val uuid = uuidOf(ident)
      if (!DatasetMetadata.exists(spark, base, uuid))
        throw new NoSuchTableException(ident)
      val snap = DatasetMetadata.loadVersion(spark, base, uuid, version.toLong)
      new GraftTable(base, Sidecars.without(snap))
  }

  /** SQL `TIMESTAMP AS OF t`: the latest version committed at or before
    * `t` (Spark hands the instant in MICROseconds). committed-at times are
    * the commit records' mtimes — the same values `history` /
    * `CALL system.history` report, so a user can pick an instant straight
    * from the lineage output.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    // metadata tables (4-part names) resolve the timestamp against the
    // UNDERLYING dataset, then travel like the versioned branch above
    val uuid = ident.namespace match {
      case Array("default", tbl) => tbl
      case _                     => uuidOf(ident)
    }
    if (!DatasetMetadata.exists(spark, base, uuid))
      throw new NoSuchTableException(ident)
    val v = Ktk.versionAtTimestamp(spark, base, uuid, timestamp / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"table '$uuid' has no commit at or before timestamp ${timestamp / 1000L} ms; " +
          "CALL <catalog>.system.history(table => ...) lists committed_at per version"))
    loadTable(ident, v.toString)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val uuid = uuidOf(ident)
    if (DatasetMetadata.exists(spark, base, uuid))
      throw new TableAlreadyExistsException(ident)
    val md = Ktk.createEmpty(spark, base, uuid, schema, identityKeys(partitions),
      userMetadata = userProps(properties))
    new GraftTable(base, md)
  }

  /** `ALTER TABLE ... ADD COLUMNS` → one metadata-only additive-evolution
    * commit (new columns are nullable; old files read them as null — the
    * same rule as `update(evolveSchema = true)`), and
    * `SET/UNSET TBLPROPERTIES` → one user-metadata commit. Every other
    * change (rename/drop/retype — they would rewrite or reinterpret
    * existing files) refuses loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val uuid = uuidOf(ident)
    if (!DatasetMetadata.exists(spark, base, uuid))
      throw new NoSuchTableException(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val sets = changes.collect { case s: TableChange.SetProperty => s }
    val unsets = changes.collect { case r: TableChange.RemoveProperty => r }
    val others = changes.filter {
      case _: TableChange.AddColumn | _: TableChange.SetProperty |
           _: TableChange.RemoveProperty => false
      case _ => true
    }
    if (others.nonEmpty)
      throw new UnsupportedOperationException(
        "graft tables evolve additively: ALTER TABLE supports ADD COLUMNS and " +
          s"SET/UNSET TBLPROPERTIES only; got ${others.mkString(", ")}")
    if (adds.nonEmpty) {
      val fields = adds.map { a =>
        require(a.fieldNames.length == 1,
          s"nested column additions are not supported: ${a.fieldNames.mkString(".")}")
        require(a.position() == null,
          "FIRST/AFTER column positions are not supported; new columns append")
        // refuse rather than silently drop the contract: existing files
        // can only ever read an added column as NULL
        require(a.isNullable,
          s"ADD COLUMNS ${a.fieldNames.head} NOT NULL is unsatisfiable — " +
            "existing rows read added columns as null; declare it nullable")
        StructField(a.fieldNames.head, a.dataType, nullable = true)
      }
      Ktk.addColumns(spark, base, uuid, fields)
    }
    if (sets.nonEmpty || unsets.nonEmpty)
      Ktk.setTableProperties(spark, base, uuid,
        set = sets.map(s => s.property -> s.value).toMap,
        unset = unsets.map(_.property))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val uuid = uuidOf(ident)
    if (!DatasetMetadata.exists(spark, base, uuid)) false
    else { DatasetMetadata.delete(spark, base, uuid); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = uuidOf(oldIdent); val to = uuidOf(newIdent)
    if (!DatasetMetadata.exists(spark, base, from))
      throw new NoSuchTableException(oldIdent)
    if (DatasetMetadata.exists(spark, base, to))
      throw new TableAlreadyExistsException(newIdent)
    Ktk.copyDataset(spark, base, from, to)
    DatasetMetadata.delete(spark, base, from)
  }

  // ------------------------------------------------- atomic CTAS / RTAS
  //
  // `CREATE TABLE ... AS SELECT` / `REPLACE TABLE ... AS SELECT` through
  // the staging protocol: the V1Write bridge captures the SELECT's
  // (lazy) DataFrame, and commitStagedChanges runs the ENTIRE write —
  // files then one metadata put — so the table appears fully formed or
  // not at all. Nothing lands on disk before commit, which makes abort
  // a no-op and a failed CTAS leave zero trace. RTAS swaps content,
  // schema and partitioning in one commit on the same version line
  // ([[Ktk.replaceTable]]): earlier versions stay travelable.

  private def identityKeys(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { t =>
      if (t.name == "identity" && t.references.length == 1)
        t.references.head.fieldNames.mkString(".")
      else throw new UnsupportedOperationException(
        s"graft tables support identity partitioning only, got $t")
    }

  /** User table properties for CREATE/CTAS/RTAS: Spark-reserved keys
    * (provider/owner/location/...) are not ours to keep, and the `graft.`
    * engine namespace refuses — a TBLPROPERTIES-injected
    * `graft.constraint.*` (or sort/seq/rollback marker) would land as
    * live engine state that SQL can neither see nor remove.
    */
  private def userProps(properties: JMap[String, String]): Map[String, String] = {
    val props = properties.asScala.toMap
      .filter { case (k, _) => !k.startsWith("spark.") && k != TableCatalog.PROP_PROVIDER &&
        k != TableCatalog.PROP_OWNER && k != TableCatalog.PROP_LOCATION &&
        k != TableCatalog.PROP_EXTERNAL && k != TableCatalog.PROP_COMMENT }
    props.keys.find(_.startsWith("graft.")).foreach { k =>
      throw new IllegalArgumentException(
        s"table property '$k' is in the reserved engine namespace 'graft.'")
    }
    props
  }

  override def stageCreate(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable = {
    if (DatasetMetadata.exists(spark, base, uuidOf(ident)))
      throw new TableAlreadyExistsException(ident)
    new GraftStagedTable(spark, base, uuidOf(ident), schema,
      identityKeys(partitions), userProps(properties), replace = false)
  }

  override def stageReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable = {
    if (!DatasetMetadata.exists(spark, base, uuidOf(ident)))
      throw new NoSuchTableException(ident)
    new GraftStagedTable(spark, base, uuidOf(ident), schema,
      identityKeys(partitions), userProps(properties), replace = true)
  }

  override def stageCreateOrReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable =
    new GraftStagedTable(spark, base, uuidOf(ident), schema,
      identityKeys(partitions), userProps(properties),
      replace = DatasetMetadata.exists(spark, base, uuidOf(ident)))

  // ----------------------------------------------------- SQL procedures
  //
  // Iceberg-style maintenance verbs as Spark 4 stored procedures:
  //   CALL gk.system.compact(table => 't')
  //   CALL gk.system.materialize_deletes(table => 't')
  //   CALL gk.system.gc(table => 't', retain_versions => 3, dry_run => true)
  //   CALL gk.system.optimize(table => 't')
  //   CALL gk.system.rollback(table => 't', version => 4)
  //   CALL gk.system.zorder(table => 't', columns => 'a,b')
  // Each runs the same engine entry point the CLI/API use and returns a
  // small result row (O(metadata) except the rewrites they orchestrate).

  import GraftCatalog.{proc, stringParam}

  private def versionRow(md: DatasetMetadata): Seq[InternalRow] =
    Seq(InternalRow(md.version, md.partitions.size.toLong))
  private val versionSchema = StructType(Seq(
    StructField("version", LongType), StructField("files", LongType)))

  private lazy val procedures: Map[String, UnboundProcedure] = Map(
    // optional `where` restricts compaction to matching partitions (the
    // condition-string sublanguage over partition keys, e.g.
    // "p == a, q > 3") — at scale maintenance targets hot partitions
    "compact" -> proc("compact",
      Array(stringParam("table"),
        ProcedureParameter.in("where", StringType).defaultValue("''").build()),
      versionSchema) { in =>
      versionRow(Ktk.compact(spark, base, in.getUTF8String(0).toString,
        scope = scopeArg(in, 1)))
    },
    "materialize_deletes" -> proc("materialize_deletes",
      Array(stringParam("table"),
        ProcedureParameter.in("where", StringType).defaultValue("''").build()),
      versionSchema) { in =>
      versionRow(Ktk.materializeDeletes(spark, base, in.getUTF8String(0).toString,
        scope = scopeArg(in, 1)))
    },
    "optimize" -> proc("optimize",
      Array(stringParam("table"),
        ProcedureParameter.in("where", StringType).defaultValue("''").build()),
      versionSchema) { in =>
      versionRow(Ktk.optimize(spark, base, in.getUTF8String(0).toString,
        scope = scopeArg(in, 1)))
    },
    "rollback" -> proc("rollback",
      Array(stringParam("table"),
        ProcedureParameter.in("version", LongType).build()), versionSchema) { in =>
      versionRow(Ktk.rollback(spark, base, in.getUTF8String(0).toString, in.getLong(1)))
    },
    "zorder" -> proc("zorder",
      Array(stringParam("table"), stringParam("columns"),
        ProcedureParameter.in("where", StringType).defaultValue("''").build()),
      versionSchema) { in =>
      versionRow(Ktk.clusterZOrder(spark, base, in.getUTF8String(0).toString,
        in.getUTF8String(1).toString.split(',').toSeq.map(_.trim).filter(_.nonEmpty),
        scope = scopeArg(in, 2)))
    },
    "history" -> proc("history", Array(stringParam("table")),
      StructType(Seq(
        StructField("version", LongType), StructField("committed_at", TimestampType),
        StructField("operation", StringType),
        StructField("files", LongType), StructField("bytes", LongType),
        StructField("files_added", LongType), StructField("files_removed", LongType),
        StructField("bytes_added", LongType),
        StructField("tombstone_fragments", LongType),
        StructField("is_rollback", BooleanType), StructField("rollback_of", LongType)))) { in =>
      Ktk.history(spark, base, in.getUTF8String(0).toString)
        .queryExecution.executedPlan.executeCollect().toSeq
    },
    // skipping-sidecar registration — the SQL face of the CLI's
    // index/bloom/zonemap verbs: one metadata commit each, incremental
    // maintenance from then on
    "add_index" -> proc("add_index",
      Array(stringParam("table"), stringParam("column")), versionSchema) { in =>
      versionRow(Ktk.addIndex(spark, base, in.getUTF8String(0).toString,
        in.getUTF8String(1).toString))
    },
    "add_bloom" -> proc("add_bloom",
      Array(stringParam("table"), stringParam("column")), versionSchema) { in =>
      versionRow(Ktk.addBloom(spark, base, in.getUTF8String(0).toString,
        in.getUTF8String(1).toString))
    },
    "add_zonemaps" -> proc("add_zonemaps",
      Array(stringParam("table"), stringParam("columns")), versionSchema) { in =>
      val cols = in.getUTF8String(1).toString.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      // loud failure like the other verbs — an empty list would otherwise
      // commit a no-op version with unchanged registries
      require(cols.nonEmpty,
        "add_zonemaps: `columns` must name at least one column (comma-separated)")
      versionRow(Ktk.addZoneMaps(spark, base, in.getUTF8String(0).toString, cols))
    },
    // read-only integrity audit: everything the retained history
    // references must exist; orphans previewed (see Ktk.fsck)
    "fsck" -> proc("fsck", Array(stringParam("table")),
      StructType(Seq(
        StructField("kind", StringType), StructField("version", LongType),
        StructField("path", StringType)))) { in =>
      Ktk.fsck(spark, base, in.getUTF8String(0).toString)
        .queryExecution.executedPlan.executeCollect().toSeq
    },
    // REPAIR companion of fsck: one commit dropping current-snapshot
    // references whose backing storage is gone; refuses on missing DV
    // fragments unless accept_resurrection (see Ktk.salvage)
    "salvage" -> proc("salvage",
      Array(stringParam("table"),
        ProcedureParameter.in("accept_resurrection", BooleanType).defaultValue("false").build(),
        ProcedureParameter.in("dry_run", BooleanType).defaultValue("false").build()),
      StructType(Seq(
        StructField("kind", StringType), StructField("path", StringType)))) { in =>
      Ktk.salvage(spark, base, in.getUTF8String(0).toString,
        acceptResurrection = in.getBoolean(1), dryRun = in.getBoolean(2))
        .map { case (k, p) =>
          InternalRow(UTF8String.fromString(k), UTF8String.fromString(p)) }
    },
    // BOUNDED salvage report (incident scale): full dropped count +
    // truncation marker on every row, at most report_limit listed rows
    "salvage_report" -> proc("salvage_report",
      Array(stringParam("table"),
        ProcedureParameter.in("accept_resurrection", BooleanType).defaultValue("false").build(),
        ProcedureParameter.in("dry_run", BooleanType).defaultValue("false").build(),
        ProcedureParameter.in("report_limit", IntegerType)
          .defaultValue(Ktk.DefaultMaintenanceReportLimit.toString).build()),
      StructType(Seq(
        StructField("kind", StringType), StructField("path", StringType),
        StructField("dropped_count", LongType), StructField("truncated", BooleanType)))) { in =>
      val r = Ktk.salvageReport(spark, base, in.getUTF8String(0).toString,
        acceptResurrection = in.getBoolean(1), dryRun = in.getBoolean(2),
        reportLimit = in.getInt(3))
      if (r.dropped.isEmpty)
        Seq(InternalRow(null, null, r.droppedCount, r.truncated))
      else r.dropped.map { case (k, p) =>
        InternalRow(UTF8String.fromString(k), UTF8String.fromString(p),
          r.droppedCount, r.truncated) }
    },
    "gc" -> proc("gc",
      Array(stringParam("table"),
        ProcedureParameter.in("retain_versions", IntegerType).defaultValue("0").build(),
        ProcedureParameter.in("dry_run", BooleanType).defaultValue("false").build(),
        // Delta VACUUM's "RETAIN n HOURS", in ms: versions committed inside
        // the window also survive (widens retain_versions, never narrows)
        ProcedureParameter.in("retain_last_ms", LongType).defaultValue("-1").build(),
        // comma-separated consumeChanges/mirror checkpoint files: versions
        // a registered consumer still needs survive (consumer-aware floor)
        ProcedureParameter.in("consumer_checkpoints", StringType).defaultValue("''").build()),
      StructType(Seq(StructField("path", StringType)))) { in =>
      val ckpts = Option(in.getUTF8String(4)).map(_.toString).getOrElse("")
        .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      Ktk.garbageCollect(spark, base, in.getUTF8String(0).toString,
        retainVersions = in.getInt(1), dryRun = in.getBoolean(2),
        retainLastMs = in.getLong(3), consumerCheckpoints = ckpts)
        .map(p => InternalRow(UTF8String.fromString(p)))
    },
    // BOUNDED gc report: the full reclaimed count rides on every row and
    // at most report_limit reclaimed paths list — a million-orphan reap
    // returns report_limit rows, not a 100 MB row set
    "gc_report" -> proc("gc_report",
      Array(stringParam("table"),
        ProcedureParameter.in("retain_versions", IntegerType).defaultValue("0").build(),
        ProcedureParameter.in("dry_run", BooleanType).defaultValue("false").build(),
        ProcedureParameter.in("retain_last_ms", LongType).defaultValue("-1").build(),
        ProcedureParameter.in("consumer_checkpoints", StringType).defaultValue("''").build(),
        ProcedureParameter.in("report_limit", IntegerType)
          .defaultValue(Ktk.DefaultMaintenanceReportLimit.toString).build()),
      StructType(Seq(
        StructField("path", StringType),
        StructField("reclaimed_count", LongType), StructField("truncated", BooleanType)))) { in =>
      val ckpts = Option(in.getUTF8String(4)).map(_.toString).getOrElse("")
        .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      val r = Ktk.garbageCollectReport(spark, base, in.getUTF8String(0).toString,
        retainVersions = in.getInt(1), dryRun = in.getBoolean(2),
        retainLastMs = in.getLong(3), consumerCheckpoints = ckpts,
        reportLimit = in.getInt(5))
      if (r.reclaimed.isEmpty)
        Seq(InternalRow(null, r.reclaimedCount, r.truncated))
      else r.reclaimed.map(p =>
        InternalRow(UTF8String.fromString(p), r.reclaimedCount, r.truncated))
    })

  /** Optional `where` procedure argument (condition-string sublanguage
    * over partition keys) → the engine's Predicates; empty/absent = global.
    */
  private def scopeArg(in: InternalRow, i: Int): graft.core.Predicates = {
    val cond = Option(in.getUTF8String(i)).map(_.toString.trim).getOrElse("")
    if (cond.isEmpty) graft.core.Predicates.empty
    else graft.core.Predicates.parse(cond)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    procedures.keys.toSeq.sorted
      .map(n => Identifier.of(Array("system"), n)).toArray

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty || ident.namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got ${ident.namespace.mkString(".")}")
    procedures.getOrElse(ident.name,
      throw new IllegalArgumentException(
        s"unknown procedure '${ident.name}'; available: ${procedures.keys.toSeq.sorted.mkString(", ")}"))
  }
}

/** Staged CTAS/RTAS target: captures the query's DataFrame at "write"
  * time and defers the real write to [[commitStagedChanges]], where
  * [[Ktk.store]] (create) / [[Ktk.replaceTable]] (replace) runs files
  * + ONE metadata put — the atomic publish point.
  */
private final class GraftStagedTable(
    spark: SparkSession,
    base: String,
    uuid: String,
    tableSchema: StructType,
    partitionOn: Seq[String],
    props: Map[String, String],
    replace: Boolean)
  extends StagedTable with SupportsWrite {

  @volatile private var pending: Option[org.apache.spark.sql.DataFrame] = None

  override def name(): String = s"graft.$uuid (staged)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  // RTAS plans OverwriteByExpression(true) against the staged target, so
  // the builder must accept truncate(); it is a no-op here — the staged
  // write IS a full replacement by construction.
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = this
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
              // capture the LAZY plan; execution happens at commit so a
              // failure here leaves no partial table behind
              pending = Some(data); ()
            }
        }
    }

  override def commitStagedChanges(): Unit = {
    val df = pending.getOrElse(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), tableSchema))
    if (replace)
      Ktk.replaceTable(spark, base, uuid, df, partitionOn, userMetadata = props)
    else
      Ktk.store(spark, base, uuid, df, partitionOn = partitionOn, userMetadata = props)
    ()
  }

  override def abortStagedChanges(): Unit = () // nothing landed before commit
}

object GraftCatalog {
  private def stringParam(name: String): ProcedureParameter =
    ProcedureParameter.in(name, StringType).build()

  /** One-class unbound+bound procedure: parameters are static, so bind is
    * identity; `call` runs the side effect and returns ONE LocalScan of
    * result rows.
    */
  private def proc(
      pname: String,
      params: Array[ProcedureParameter],
      outSchema: StructType)(run: InternalRow => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = pname
      override def description(): String = s"graft maintenance procedure $pname"
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val out = run(input).toArray
        java.util.List.of[Scan](new LocalScan {
          override def rows(): Array[InternalRow] = out
          override def readSchema(): StructType = outSchema
        }).iterator()
      }
    }
}
