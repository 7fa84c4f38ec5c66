package graft.ktk

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Msgpack, PredLiteral, Predicates, UrlCodec}

/** Interop with datasets written by the REFERENCE implementation — the
  * kartothek v4 on-disk format (docs/spec/storage_layout.rst:18-56,
  * core/dataset.py:566-674 `load_from_store`): a
  * `<uuid>.by-dataset-metadata.json` (or `.msgpack.zstd`) blob holding
  * explicit partitions as per-table `files` dicts, partition values encoded
  * in the file-key path, and secondary indices either embedded
  * (value → labels, core/dataset.py `from_v2`) or external
  * (`indices/<col>/<ts>.by-dataset-index.parquet` with columns
  * `(<col>, partition: list<string>)`, core/index.py:670-727).
  *
  * Migration is the first thing a real user does — this module makes a
  * reference-written dataset directly queryable (predicate pushdown
  * included) and can write the same layout back for the reverse path.
  */
object KartothekInterop {

  val JsonSuffix = ".by-dataset-metadata.json"
  val MsgpackSuffix = ".by-dataset-metadata.msgpack.zstd"

  /** Parsed v4 metadata. `partitions`: label → (table → store key). */
  final case class V4Dataset(
      uuid: String,
      metadataVersion: Int,
      partitionKeys: Seq[String],
      partitions: Map[String, Map[String, String]],
      embeddedIndices: Map[String, Map[String, Seq[String]]],
      externalIndices: Map[String, String],
      metadata: Map[String, String]) {

    def tables: Seq[String] =
      partitions.values.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)

    /** Partition key=value pairs of one label, decoded from its file-key
      * path (the reference encodes values in the key, quote_indices →
      * `core/utils.py`).
      */
    def partitionValues(label: String, table: String): Map[String, String] = {
      val key = partitions(label)(table)
      val marker = s"/$table/"
      val idx = key.indexOf(marker)
      if (idx < 0) Map.empty
      else {
        val rel = key.substring(idx + marker.length)
        val dirs = rel.split("/").dropRight(1).mkString("/")
        if (dirs.isEmpty) Map.empty else UrlCodec.decodePartitionPath(dirs).toMap
      }
    }
  }

  // ------------------------------------------------------------------ load

  private val mapper = new ObjectMapper()

  private def readBlob(spark: SparkSession, path: Path): Array[Byte] = {
    val fs = DatasetMetadata.fs(spark, path.toString)
    val in = fs.open(path)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** Load v4 metadata: JSON first, then the msgpack.zstd variant — the same
    * fallback order as the reference (core/dataset.py:591-605).
    */
  def load(spark: SparkSession, base: String, uuid: String): V4Dataset = {
    val fs = DatasetMetadata.fs(spark, base)
    val jsonKey = new Path(s"$base/$uuid$JsonSuffix")
    val packKey = new Path(s"$base/$uuid$MsgpackSuffix")
    val tree: Any =
      if (fs.exists(jsonKey)) toScala(mapper.readTree(readBlob(spark, jsonKey)))
      else if (fs.exists(packKey)) {
        val raw = com.github.luben.zstd.Zstd.decompress(
          readBlob(spark, packKey), 64 * 1024 * 1024)
        Msgpack.unpack(raw)
      } else
        throw new NoSuchElementException(
          s"Kartothek dataset '$uuid' not found: tried $jsonKey and $packKey")
    val m = tree.asInstanceOf[Map[String, Any]]
    val ds = fromTree(m)
    // explicit_partitions=False datasets carry no "partitions" key — the
    // reference reconstructs them by listing storage keys
    // (core/dataset.py:636-645 + _load_partitions_from_filenames:849-861);
    // same fallback here
    if (m.contains("partitions")) ds else discoverPartitions(spark, base, ds)
  }

  /** Rebuild the partition map from the file listing: label =
    * `<k=v dirs>/<filename stem>` per `_get_partition_label`
    * (core/dataset.py:822-826); partition keys derived from the first
    * key's `k=v` components when the blob did not declare them.
    */
  private def discoverPartitions(
      spark: SparkSession, base: String, ds: V4Dataset): V4Dataset = {
    val fs = DatasetMetadata.fs(spark, base)
    val root = fs.makeQualified(new Path(s"$base/${ds.uuid}"))
    if (!fs.exists(root)) return ds
    val prefix = root.toString + "/"
    val parts = scala.collection.mutable.Map.empty[String, Map[String, String]]
    Ktk.walkFiles(fs, root) { st =>
      val rel = st.getPath.toString.stripPrefix(prefix)
      val name = st.getPath.getName
      if (rel.endsWith(".parquet") && !rel.startsWith(s"$IndexDirToken/") &&
        !name.startsWith("_") && !name.startsWith(".") &&
        !name.endsWith(".by-dataset-index.parquet")) {
        val segs = rel.split("/")
        if (segs.length >= 2) {
          val table = segs.head
          val dirs = segs.drop(1).dropRight(1)
          val label = (dirs :+ name.stripSuffix(".parquet")).mkString("/")
          parts(label) = parts.getOrElse(label, Map.empty) +
            (table -> s"${ds.uuid}/$rel")
        }
      }
    }
    val keys =
      if (ds.partitionKeys.nonEmpty) ds.partitionKeys
      else parts.headOption.map { case (label, _) =>
        label.split("/").dropRight(1).toSeq.filter(_.contains('='))
          .map(s => UrlCodec.unquote(s.substring(0, s.indexOf('='))))
      }.getOrElse(Nil)
    ds.copy(partitions = parts.toMap, partitionKeys = keys)
  }

  private val IndexDirToken = "indices"

  private def toScala(n: com.fasterxml.jackson.databind.JsonNode): Any = {
    import scala.jdk.CollectionConverters._
    if (n.isObject) n.properties().asScala.map(e => e.getKey -> toScala(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(toScala).toSeq
    else if (n.isTextual) n.asText()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else null
  }

  private def fromTree(m: Map[String, Any]): V4Dataset = {
    def str(v: Any): String = v.toString
    val version = m.get("dataset_metadata_version").map(_.toString.toInt).getOrElse(4)
    require(version == 4, s"unsupported kartothek metadata version $version (only v4)")
    val uuid = m.get("dataset_uuid").map(str).getOrElse {
      if (m.contains("uuid"))
        throw new IllegalArgumentException(
          "metadata blob is in GRAFT format, not kartothek v4 — the dataset " +
            "was likely adopted; read it with Ktk.readTable instead")
      throw new NoSuchElementException("metadata blob has no dataset_uuid")
    }
    val partitionKeys = m.get("partition_keys").map(_.asInstanceOf[Seq[Any]].map(str)).getOrElse(Nil)
    val partitions = m.get("partitions").map(_.asInstanceOf[Map[String, Any]].map {
      case (label, pd) =>
        val files = pd.asInstanceOf[Map[String, Any]]
          .getOrElse("files", Map.empty[String, Any]).asInstanceOf[Map[String, Any]]
        label -> files.map { case (t, k) => t -> str(k) }
    }).getOrElse(Map.empty)
    val (embedded, external) = m.get("indices")
      .map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
      .partitionMap {
        case (c, s: String) => Right(c -> s)
        case (c, d) => Left(c -> d.asInstanceOf[Map[String, Any]].map {
          case (v, labels) => v -> labels.asInstanceOf[Seq[Any]].map(str)
        })
      }
    val meta = m.get("metadata").map(_.asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> (if (v == null) null else v.toString) }).getOrElse(Map.empty)
    V4Dataset(uuid, version, partitionKeys, partitions,
      embedded.toMap, external.toMap, meta)
  }

  // ------------------------------------------------------------------ read

  /** Labels surviving the predicates, using partition-key decoding plus
    * embedded/external secondary indices — the same three-stage pruning as
    * [[Ktk.queryLabels]], over the reference's own metadata structures.
    * Null-valued literals skip index pruning (nulls are never indexed).
    */
  def queryLabels(
      spark: SparkSession,
      base: String,
      ds: V4Dataset,
      table: String,
      predicates: Predicates): Seq[String] = {
    val all = ds.partitions.keys.toSeq.sorted
    if (predicates.isEmpty) return all
    val partCols = ds.partitionKeys.toSet
    val indexedCols = ds.embeddedIndices.keySet ++ ds.externalIndices.keySet

    val externalCache = scala.collection.mutable.Map.empty[(String, PredLiteral), Set[String]]
    def matchingLabels(l: PredLiteral): Set[String] =
      ds.embeddedIndices.get(l.col) match {
        case Some(dct) =>
          dct.collect { case (v, labels) if Predicates.evalLiteral(l, v) => labels }
            .flatten.toSet
        case None =>
          externalCache.getOrElseUpdate((l.col, l), {
            val onValue = Predicates(Seq(Seq(l.copy(col = "value"))))
            SidecarRows.frame(spark, new Path(s"$base/${ds.externalIndices(l.col)}"))
              .select(col(s"`${l.col}`").as("value"), col("partition"))
              .filter(onValue.toColumn)
              .select(explode(col("partition")).as("label"))
              .distinct().collect().map(_.getString(0)).toSet
          })
      }

    val surviving = predicates.splitPerConjunction(partCols).zip(predicates.disjunction).flatMap {
      case ((partLits, _), conj) =>
        val afterPart = all.filter { label =>
          Predicates(Seq(partLits)).matchesValues(ds.partitionValues(label, table))
        }
        val idxLits = conj.filter(l =>
          indexedCols.contains(l.col) && !partCols.contains(l.col) && Sidecars.probeable(l))
        idxLits.foldLeft(afterPart.toSet)((labels, l) => labels intersect matchingLabels(l))
    }.toSet
    all.filter(surviving.contains)
  }

  /** Read one table of a reference-written dataset as a DataFrame:
    * driver-side label pruning picks the explicit file list, a basePath
    * Parquet scan reconstructs the partition columns from the key=value
    * dirs (the reference stores them only in the path), and the exact
    * residual filter is re-applied.
    */
  def readTable(
      spark: SparkSession,
      base: String,
      ds: V4Dataset,
      table: String = "table",
      columns: Seq[String] = Nil,
      predicates: Predicates = Predicates.empty): DataFrame = {
    require(ds.partitions.nonEmpty, s"kartothek dataset '${ds.uuid}' has no partitions")
    ds.partitions.find(!_._2.contains(table)).foreach { case (l, _) =>
      throw new IllegalArgumentException(s"partition '$l' has no file for table '$table'")
    }
    val tableDir = s"$base/${ds.uuid}/$table"
    val labels = queryLabels(spark, base, ds, table, predicates)
    val files =
      if (labels.nonEmpty) labels.map(l => s"$base/${ds.partitions(l)(table)}")
      else ds.partitions.keys.toSeq.sorted.map(l => s"$base/${ds.partitions(l)(table)}")
    val scan = spark.read.option("basePath", tableDir).parquet(files: _*)
    // pruned-to-nothing: keep the schema, emit no rows
    val base0 = if (labels.isEmpty) scan.filter(lit(false)) else scan
    val filtered = if (predicates.isEmpty) base0 else base0.filter(predicates.toColumn)
    if (columns.isEmpty) filtered
    else {
      val missing = columns.filterNot(filtered.columns.contains)
      require(missing.isEmpty, s"Columns not in dataset: ${missing.mkString(",")}")
      filtered.select(columns.map(c => col(s"`$c`")): _*)
    }
  }

  /** All tables of a multi-table dataset (the reference's deprecated-but-real
    * v4 form, io_components/metapartition.py:77-333 — one file per table per
    * partition, distinct schemas): table name → DataFrame, each read with the
    * same pruning as [[readTable]].
    *
    * Predicate semantics per table are WHOLE-conjunction: a predicate is
    * applied to a table only when every referenced column exists there
    * (partition keys exist in every table's path); otherwise it is dropped
    * wholesale FOR THAT TABLE — superset semantics — never partially
    * applied (filtering a `note`-less table by the `a==1` half of
    * `a==1 AND note=='x'` would return a subset with no defined meaning).
    *
    * An EMPTY dataset (no partitions) yields schema-only empty frames,
    * with table names and schemas recovered from each table dir's
    * `_common_metadata` blob.
    */
  def readTables(
      spark: SparkSession,
      base: String,
      ds: V4Dataset,
      predicates: Predicates = Predicates.empty): Map[String, DataFrame] = {
    if (ds.partitions.isEmpty) {
      val fs = DatasetMetadata.fs(spark, base)
      val root = new Path(s"$base/${ds.uuid}")
      if (!fs.exists(root)) return Map.empty
      return fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
        val cm = new Path(st.getPath, "_common_metadata")
        if (fs.exists(cm))
          Some(st.getPath.getName -> spark.read.parquet(cm.toString).limit(0))
        else None
      }.toMap
    }
    ds.tables.map { t =>
      val sample = spark.read.parquet(s"$base/${ds.partitions.head._2(t)}")
      val cols = sample.columns.toSet ++ ds.partitionKeys
      val applicable = predicates.restrictIfFullyApplicable(cols).getOrElse(Predicates.empty)
      t -> readTable(spark, base, ds, t, predicates = applicable)
    }.toMap
  }

  // ----------------------------------------------------------------- adopt

  /** Adopt a reference-written dataset IN PLACE as a graft-managed one —
    * zero data movement: for the reference's default single table
    * (`table`, core/naming.py SINGLE_TABLE) the physical layouts coincide,
    * so adoption just writes a graft metadata blob over the same files,
    * rebuilds any requested indices in graft's typed parquet form, and can
    * add zone maps the reference never had. After adoption the FULL Ktk
    * surface applies: update/delete-scope, GC, two-phase commits, zone
    * pruning.
    *
    * COST KNOB: with the defaults (no sidecar columns) adoption is
    * metadata-only — one footer-schema pass + one commit, no data scan.
    * Each `secondaryIndices`/`zoneMapFor`/`bloomFor` column opts into a
    * full scan of the adopted files at adoption time; on a large archive
    * prefer adopting bare and retrofitting lazily with
    * [[graft.ktk.Ktk.addIndex]]/[[graft.ktk.Ktk.addZoneMaps]]/
    * [[graft.ktk.Ktk.addBloom]] once the access pattern is known.
    */
  def adoptAsGraft(
      spark: SparkSession,
      base: String,
      ds: V4Dataset,
      secondaryIndices: Seq[String] = Nil,
      zoneMapFor: Seq[String] = Nil,
      bloomFor: Seq[String] = Nil): DatasetMetadata = {
    val table = "table"
    ds.partitions.find(!_._2.contains(table)).foreach { case (l, files) =>
      throw new IllegalArgumentException(
        s"adoption requires the reference's default single table '$table'; " +
          s"partition '$l' has tables ${files.keys.mkString(",")}")
    }
    // graft and v4 share the metadata key (`<uuid>.by-dataset-metadata.json`)
    // — adoption REPLACES the v4 blob with the graft blob over the same
    // files (atomic single put). One-way: use [[write]] for the reverse.
    val fs = DatasetMetadata.fs(spark, base)
    val tableDir = s"$base/${ds.uuid}/$table"
    // our labels are file paths relative to <uuid>/table/
    val partitions = ds.partitions.values.map { files =>
      val key = files(table)
      val label = key.stripPrefix(s"${ds.uuid}/$table/")
      label -> fs.getFileStatus(new Path(s"$base/$key")).getLen
    }.toMap
    // partition-column types normalize to graft's widened forms (they are
    // path-reconstructed, so the cast is free); PAYLOAD types stay exactly
    // as the reference wrote them — adoption never rewrites files
    val inferred = spark.read.option("basePath", tableDir)
      .parquet(partitions.keys.toSeq.sorted.map(l => s"$tableDir/$l"): _*).schema
    val schema = org.apache.spark.sql.types.StructType(inferred.map { f =>
      if (ds.partitionKeys.contains(f.name))
        f.copy(dataType = graft.core.SchemaUtil.normalizeType(f.dataType))
      else f
    })
    val md0 = DatasetMetadata(
      uuid = ds.uuid, partitionKeys = ds.partitionKeys, partitions = partitions,
      partitionSeq = partitions.keys.map(_ -> 0L).toMap,
      schemaJson = schema.json, metadata = ds.metadata)
    val md = Sidecars.build(spark, base, md0,
      Sidecars.wanted(secondaryIndices, bloomFor, zoneMapFor))
    DatasetMetadata.store(spark, base, md, operation = "ADOPT")
  }

  // ----------------------------------------------------------------- write

  /** Write a DataFrame in the reference's v4 layout (the reverse migration
    * path): Hive-style key=value dirs under `<uuid>/<table>/`, a
    * `_common_metadata` schema blob, embedded value→labels indices, and the
    * `<uuid>.by-dataset-metadata.json` blob — loadable by the reference's
    * `DatasetMetadata.load_from_store`.
    */
  def write(
      spark: SparkSession,
      base: String,
      uuid: String,
      df: DataFrame,
      table: String = "table",
      partitionOn: Seq[String] = Nil,
      secondaryIndices: Seq[String] = Nil,
      overwrite: Boolean = false,
      externalIndices: Seq[String] = Nil): V4Dataset = {
    val fs = DatasetMetadata.fs(spark, base)
    val jsonKey = new Path(s"$base/$uuid$JsonSuffix")
    if (fs.exists(jsonKey)) {
      require(overwrite, s"Kartothek dataset '$uuid' already exists")
      fs.delete(new Path(s"$base/$uuid"), true)
      fs.delete(jsonKey, false)
      // an ADOPTED dataset shares this dir with a graft version line —
      // its cached snapshots die with the dir
      DatasetMetadata.invalidateCache(base, uuid)
    }
    val tableDir = s"$base/$uuid/$table"
    val writer = df.write.mode(SaveMode.Overwrite)
    (if (partitionOn.nonEmpty) writer.partitionBy(partitionOn: _*) else writer).parquet(tableDir)

    // enumerate written files: label = relative path under <uuid>/<table>/
    val root = fs.makeQualified(new Path(tableDir))
    val prefix = root.toString + "/"
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    Ktk.walkFiles(fs, root) { st =>
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith("."))
        files += st.getPath.toString.stripPrefix(prefix) -> st.getLen
      ()
    }
    val labels = files.map(_._1)
    // full schema INCLUDING partition columns (partition keys first, like
    // the reference's normalize_column_order) — the reference reconstructs
    // partition-column types from _common_metadata, so they must be present
    // even though payload files omit them
    val fullSchema = org.apache.spark.sql.types.StructType(
      partitionOn.map(df.schema(_)) ++
        df.schema.fields.filterNot(f => partitionOn.contains(f.name)))
    writeCommonMetadata(spark, tableDir, fullSchema)
    // the index scans plan from the walk's own sizes: no listing, no inference
    def scan: DataFrame =
      SnapshotScan.files(spark, tableDir, fullSchema, partitionOn, files.toSeq)

    // embedded indices: value → labels (the v4 `from_v2` dict form)
    val indices: Map[String, Map[String, Seq[String]]] = secondaryIndices.map { c =>
      val pairs = scan
        .select(col(s"`$c`").cast("string").as("value"),
          regexp_replace(Ktk.decodeUriPathCol(input_file_name()),
            // decode FIRST (a URI-encodable table name never matches the raw
            // form), and quote the interpolated name (regex metachars)
            lit("^.*/" + java.util.regex.Pattern.quote(table) + "/"),
            lit("")).as("label"))
        .where(col("value").isNotNull)
        .groupBy("value").agg(sort_array(collect_set(col("label"))).as("labels"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
      c -> pairs
    }.toMap

    // external indices (core/index.py:670-727 `<uuid>/indices/<col>/<ts>.
    // by-dataset-index.parquet`, columns (<col>, partition list<string>)):
    // built DISTRIBUTED and renamed into place — unlike the embedded dict
    // form, the value set never collects to the driver, so this is the
    // format for large exports.
    val extIdx: Map[String, String] = externalIndices.map { c =>
      val key = s"$uuid/indices/$c/1970-01-01T00%3A00%3A00.000000.by-dataset-index.parquet"
      val tmp = s"$base/$uuid/indices/.$c.tmp"
      scan
        .select(col(s"`$c`"),
          regexp_replace(Ktk.decodeUriPathCol(input_file_name()),
            // decode FIRST (a URI-encodable table name never matches the raw
            // form), and quote the interpolated name (regex metachars)
            lit("^.*/" + java.util.regex.Pattern.quote(table) + "/"),
            lit("")).as("label"))
        .where(col(s"`$c`").isNotNull)
        .groupBy(s"`$c`").agg(sort_array(collect_set(col("label"))).as("partition"))
        .coalesce(1) // the v4 key names ONE parquet file
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"external index write for '$c' produced no file"))
      val dest = new Path(s"$base/$key")
      fs.mkdirs(dest.getParent)
      if (!fs.rename(part, dest))
        throw new java.io.IOException(s"external index rename failed for '$c'")
      fs.delete(new Path(tmp), true)
      c -> key
    }.toMap

    val ds = V4Dataset(
      uuid = uuid, metadataVersion = 4, partitionKeys = partitionOn,
      partitions = labels.toSeq.sorted.map(l =>
        l -> Map(table -> s"$uuid/$table/$l")).toMap,
      embeddedIndices = indices, externalIndices = extIdx,
      metadata = Map.empty)
    storeJson(spark, base, ds, table)
    ds
  }

  /** Write SEVERAL DataFrames as ONE v4 dataset in the reference's
    * DEPRECATED-but-real multi-table form (metapartition.py:77-333, write
    * paths io/eager.py:589-876): every partition label carries one file per
    * table (`files: {core: key, aux: key}`), tables have independent
    * schemas, and each table dir gets its own `_common_metadata`. This is
    * the round-trip path for legacy archives that still use two tables —
    * new datasets should be separate single-table datasets joined at read
    * time.
    *
    * Label alignment: each table is hash-repartitioned on the partition
    * keys so every Hive dir holds exactly ONE file, which is renamed to the
    * shared `part-0` stem — so the label `<k=v dirs>/part-0` names the same
    * logical partition in every table, exactly the alignment the
    * reference's MetaPartition model requires. One file per partition per
    * table is inherent to this (deprecated) format, not a Spark limitation.
    * Tables missing a partition simply omit their entry from that label's
    * `files` dict (the reference tolerates sparse tables the same way).
    *
    * SCALE CAVEAT — legacy export surface only: the stem-alignment pass is
    * a DRIVER-SIDE recursive listing + one rename per file, O(#labels ×
    * #tables) serial FS round-trips. That is fine for the archives this
    * format exists for (hundreds of labels) and deliberately NOT for bulk
    * data — the op refuses above `maxLabels` rather than grind for hours
    * against an object store. Large datasets belong in graft's native
    * format ([[graft.ktk.Ktk.store]], fully distributed) with per-table
    * [[write]] exports.
    */
  def writeMulti(
      spark: SparkSession,
      base: String,
      uuid: String,
      tables: Map[String, DataFrame],
      partitionOn: Seq[String] = Nil,
      overwrite: Boolean = false,
      maxLabels: Int = 10000): V4Dataset = {
    require(tables.nonEmpty, "writeMulti needs at least one table")
    tables.foreach { case (t, df) =>
      partitionOn.foreach(c => require(df.columns.contains(c),
        s"partition column '$c' missing from table '$t'"))
    }
    val fs = DatasetMetadata.fs(spark, base)
    val jsonKey = new Path(s"$base/$uuid$JsonSuffix")
    if (fs.exists(jsonKey)) {
      require(overwrite, s"Kartothek dataset '$uuid' already exists")
      fs.delete(new Path(s"$base/$uuid"), true)
      fs.delete(jsonKey, false)
      DatasetMetadata.invalidateCache(base, uuid)
    }
    val stem = "part-0"
    // label → table → storage key
    val filesByLabel = scala.collection.mutable.Map.empty[String, Map[String, String]]
    tables.toSeq.sortBy(_._1).foreach { case (table, df) =>
      val tableDir = s"$base/$uuid/$table"
      val shaped =
        if (partitionOn.nonEmpty) df.repartition(partitionOn.map(c => col(s"`$c`")): _*)
        else df.coalesce(1)
      val writer = shaped.write.mode(SaveMode.Overwrite)
      (if (partitionOn.nonEmpty) writer.partitionBy(partitionOn: _*) else writer)
        .parquet(tableDir)
      // one part file per dir → rename to the table-aligned stem
      val root = fs.makeQualified(new Path(tableDir))
      val prefix = root.toString + "/"
      val byDir = scala.collection.mutable.Map.empty[String, Seq[Path]]
      Ktk.walkFiles(fs, root) { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          val rel = st.getPath.toString.stripPrefix(prefix)
          val dir = rel.split("/").dropRight(1).mkString("/")
          byDir(dir) = byDir.getOrElse(dir, Nil) :+ st.getPath
        }
      }
      if (byDir.size > maxLabels)
        throw new IllegalArgumentException(
          s"writeMulti: table '$table' produced ${byDir.size} partition labels, " +
            s"over the $maxLabels cap for this legacy driver-side export path — " +
            "use the native graft format for datasets this large")
      byDir.toSeq.sortBy(_._1).foreach { case (dir, files) =>
        require(files.size == 1,
          s"table '$table' dir '$dir' has ${files.size} files; multi-table " +
            "labels require exactly one (repartition on the partition keys)")
        val label = if (dir.isEmpty) stem else s"$dir/$stem"
        val dest = new Path(s"$tableDir/$label.parquet")
        if (!fs.rename(files.head, dest))
          throw new java.io.IOException(s"rename ${files.head} -> $dest failed")
        filesByLabel(label) = filesByLabel.getOrElse(label, Map.empty) +
          (table -> s"$uuid/$table/$label.parquet")
      }
      val fullSchema = org.apache.spark.sql.types.StructType(
        partitionOn.map(df.schema(_)) ++
          df.schema.fields.filterNot(f => partitionOn.contains(f.name)))
      writeCommonMetadata(spark, tableDir, fullSchema)
    }
    val ds = V4Dataset(
      uuid = uuid, metadataVersion = 4, partitionKeys = partitionOn,
      partitions = filesByLabel.toMap,
      embeddedIndices = Map.empty, externalIndices = Map.empty,
      metadata = Map.empty)
    storeJson(spark, base, ds, tables.keys.head)
    ds
  }

  private def storeJson(spark: SparkSession, base: String, ds: V4Dataset, table: String): Unit = {
    val node = mapper.createObjectNode()
    node.put("dataset_metadata_version", ds.metadataVersion)
    node.put("dataset_uuid", ds.uuid)
    val metaNode = node.putObject("metadata")
    ds.metadata.foreach { case (k, v) => metaNode.put(k, v) }
    val pk = node.putArray("partition_keys")
    ds.partitionKeys.foreach(pk.add)
    val parts = node.putObject("partitions")
    ds.partitions.toSeq.sortBy(_._1).foreach { case (label, files) =>
      val f = parts.putObject(label).putObject("files")
      files.foreach { case (t, k) => f.put(t, k) }
    }
    if (ds.embeddedIndices.nonEmpty || ds.externalIndices.nonEmpty) {
      val idx = node.putObject("indices")
      ds.embeddedIndices.toSeq.sortBy(_._1).foreach { case (c, dct) =>
        val cNode = idx.putObject(c)
        dct.toSeq.sortBy(_._1).foreach { case (v, labels) =>
          val arr = cNode.putArray(v)
          labels.foreach(arr.add)
        }
      }
      // external form: the index entry is the STRING storage key
      ds.externalIndices.toSeq.sortBy(_._1).foreach { case (c, key) =>
        idx.put(c, key); ()
      }
    }
    val fs = DatasetMetadata.fs(spark, base)
    val out = fs.create(new Path(s"$base/${ds.uuid}$JsonSuffix"), true)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    finally out.close()
  }

  /** `_common_metadata`: a schema-only Parquet blob carrying the FULL table
    * schema, partition columns included (≙ core/common_metadata.py
    * store_schema_metadata) — produced by writing a zero-row parquet with
    * that schema and renaming the part file into place.
    */
  private[graft] def writeCommonMetadata(
      spark: SparkSession, tableDir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val tmp = s"$tableDir/._cm_tmp"
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val fs = DatasetMetadata.fs(spark, tableDir)
    val part = fs.listStatus(new Path(tmp)).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no schema part file under $tmp"))
    val target = new Path(s"$tableDir/_common_metadata")
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(part, target))
      throw new java.io.IOException(s"rename $part -> $target failed")
    fs.delete(new Path(tmp), true)
  }
}
