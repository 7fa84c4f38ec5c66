package graft.ktk

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types._

import graft.core.{PredLiteral, Predicates, SchemaUtil, UrlCodec}

/** The dataset engine: store / read / update / index / GC over partitioned
  * Parquet with a single-blob metadata commit.
  *
  * Spark-first re-expression of the reference's io layer:
  *  - store      ≙ store_dataframes_as_dataset (io/eager.py:589-876) +
  *                 write pipeline sort→partition_on→index→commit
  *                 (io_components/write.py:53-243)
  *  - readTable  ≙ read_table / dispatch_metapartitions_from_factory
  *                 (io/eager.py:344-425, io_components/read.py:75-178)
  *  - update     ≙ update_dataset_from_dataframes w/ delete_scope
  *                 (io_components/update.py:23-57)
  *  - indices    ≙ ExplicitSecondaryIndex build/merge/query
  *                 (core/index.py, metapartition.py:1370-1420)
  *  - gc         ≙ garbage_collect_dataset (io_components/gc.py:8-55)
  *
  * Planning (metadata load, partition pruning, index semi-join) is driver-side
  * over small data, exactly like the reference; bulk work is plain DataFrame
  * jobs so Catalyst/Tungsten/AQE handle projection pushdown, row-group
  * pruning, codegen and spill. At cluster scale the driver only ever holds
  * the file listing and index value→labels maps — both O(metadata), not
  * O(data).
  */
object Ktk extends org.apache.spark.internal.Logging {

  /** Test/diagnostic probe: file-candidate count of the LAST [[merge]]'s
    * matched-row scan (−1 = none computed). Lets specs pin that collected
    * key sets — single- OR multi-column — prune below the full label set.
    */
  private[graft] val lastMergeCandidates =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Same probe for [[updateRows]]: candidate-file count of the last
    * update's matched-row scan (−1 = none computed).
    */
  private[graft] val lastUpdateCandidates =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Liveness marker file inside each compact staging root (see
    * [[compact]]'s stale-staging reaper).
    */
  private[ktk] val CompactHeartbeat = "heartbeat"

  /** Fresh VERSION-ADDRESSED sidecar file name: every canonical sidecar
    * build/rewrite writes a NEW `<col>.<nonce>.parquet` dir and commits the
    * name through the registry, never rewriting a dir an older snapshot
    * references (a pure append only adds part files holding its new
    * labels' rows) — so each snapshot's registries stay trustworthy and
    * [[readTableAsOf]] keeps full four-layer pruning. Old dirs survive
    * until [[garbageCollect]] finds them referenced by no retained version.
    * A nonce (not the commit version) keeps racing writers from colliding
    * on the same target; orphans of lost races are unreferenced and gc'd.
    */
  private[ktk] def newSidecarName(col: String): String =
    s"$col.${java.util.UUID.randomUUID.toString.replace("-", "").take(8)}.parquet"


  /** Legacy fixed-name sidecars (`<col>.parquet`) are rewritten IN PLACE by
    * later commits, so a snapshot cannot trust them; nonce-named ones are
    * canonical-immutable (append-only commits only ever ADD rows for new
    * labels, which every probe tolerates).
    */
  private def isVersionAddressed(col: String, name: String): Boolean =
    name != s"$col.parquet"

  /** Write a sidecar dir under a dot-prefixed temp name, then rename into
    * place: in-flight sidecar builds stay INVISIBLE to a concurrent
    * [[garbageCollect]] (which skips dot-prefixed names) until complete —
    * the write itself never mutates an existing dir (version-addressing).
    */
  private[ktk] def atomicSidecarWrite(spark: SparkSession, dir: String, name: String)(
      write: String => Unit): Unit = {
    val fsys = DatasetMetadata.fs(spark, dir)
    val tmp = s"$dir/.$name.new"
    write(tmp)
    // FileSystem.rename signals failure by returning false, not throwing;
    // fail loudly while tmp still holds the only copy
    if (!fsys.rename(new Path(tmp), new Path(s"$dir/$name")))
      throw new java.io.IOException(s"sidecar rename $tmp -> $dir/$name failed")
  }

  // ---------------------------------------------------------------- store

  /** Write a DataFrame as a new dataset. Pipeline: normalize schema →
    * sortWithinPartitions(sortBy) for tight row-group stats
    * (≙ sort_partitions_by, io_components/write.py:82-83) → Hive-layout
    * partitionBy → build secondary indices → single-blob metadata commit.
    */
  def store(
      spark: SparkSession,
      base: String,
      uuid: String,
      df: DataFrame,
      partitionOn: Seq[String] = Nil,
      sortBy: Seq[String] = Nil,
      secondaryIndices: Seq[String] = Nil,
      overwrite: Boolean = false,
      userMetadata: Map[String, String] = Map.empty,
      bucketBy: Seq[String] = Nil,
      numBuckets: Int = 32,
      zoneMapFor: Seq[String] = Nil,
      bloomFor: Seq[String] = Nil,
      parquetBloomFor: Seq[String] = Nil): DatasetMetadata = {

    if (!overwrite && DatasetMetadata.exists(spark, base, uuid))
      throw new IllegalStateException(s"Dataset '$uuid' already exists (pass overwrite=true)")
    partitionOn.foreach(c => require(df.columns.contains(c), s"partition_on column '$c' missing"))
    parquetBloomFor.foreach(c => require(df.columns.contains(c), s"parquet-bloom column '$c' missing"))

    val normalized = SchemaUtil.normalize(df, partitionOn)
    // hash-bucket shuffle before the write (≙ io/dask/_shuffle.py:23-137):
    // co-locates rows by a DERIVED bucket id `pmod(hash(bucketBy), numBuckets)`
    // so files-per-partition-dir stays bounded by the bucket count while the
    // shuffle itself uses `spark.sql.shuffle.partitions` tasks — bucket count
    // and write parallelism are decoupled (repartition(numBuckets, ...) would
    // cap TOTAL write parallelism at numBuckets regardless of cluster size)
    val bucketed =
      if (bucketBy.nonEmpty) bucketFrame(normalized, partitionOn, bucketBy, numBuckets)
      else normalized
    // partition columns FIRST: FileFormatWriter requires the task ordering
    // to lead with them for dynamic-partition writes — otherwise it inserts
    // its own partition-only sort, which does NOT preserve the secondary
    // order (destroying exactly the row-group tightness sortBy buys)
    val sorted =
      if (sortBy.nonEmpty)
        bucketed.sortWithinPartitions((partitionOn ++ sortBy).map(c => col(s"`$c`")): _*)
      else bucketed

    val tableDir = s"$base/$uuid/table"
    // ROW-GROUP-level bloom filters inside the files (parquet-mr native,
    // applied automatically by the vectorized reader's row-group filtering
    // on pushed Eq/In) — complements the CATALOG-level sidecars (bloomFor),
    // which skip whole files before any task is scheduled. At 100 TB the two
    // compose: sidecars bound the task count, parquet blooms bound pages
    // read within the survivors.
    val writer0 = sorted.write.mode(SaveMode.Overwrite)
    val writer = parquetBloomFor.foldLeft(writer0)((w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    (if (partitionOn.nonEmpty) writer.partitionBy(partitionOn: _*) else writer).parquet(tableDir)

    // record the layout so maintenance rewrites keep files sorted (tight
    // row-group stats / zone ranges survive compaction)
    val meta =
      if (sortBy.isEmpty) userMetadata
      else userMetadata + (DatasetMetadata.SortByKey -> sortBy.mkString(","))
    commitAfterWrite(spark, base, uuid, partitionOn, secondaryIndices,
      normalized.schema, meta, zoneMapFor, bloomFor)
  }

  /** Hash-bucket co-location for the write: shuffle on (partitionOn,
    * derived bucket id) with `spark.sql.shuffle.partitions` parallelism.
    * Task count and bucket count stay DECOUPLED — files-per-partition-dir
    * is bounded by `numBuckets` while the shuffle scales with the cluster.
    */
  private[graft] def bucketFrame(
      df: DataFrame, partitionOn: Seq[String], bucketBy: Seq[String], numBuckets: Int): DataFrame = {
    val bucketId = pmod(hash(bucketBy.map(c => col(s"`$c`")): _*), lit(numBuckets))
    df.repartition((partitionOn.map(c => col(s"`$c`")) :+ bucketId): _*)
  }

  /** List written files, reject null partition values (kartothek's
    * partition_on null check, metapartition.py:1447-1453 — Spark encodes a
    * null key as `__HIVE_DEFAULT_PARTITION__`, which we detect for free from
    * the listing instead of paying a validation scan), then build indices and
    * commit.
    */
  private def commitAfterWrite(
      spark: SparkSession,
      base: String,
      uuid: String,
      partitionKeys: Seq[String],
      secondaryIndices: Seq[String],
      schema: StructType,
      userMetadata: Map[String, String],
      zoneMapFor: Seq[String] = Nil,
      bloomFor: Seq[String] = Nil): DatasetMetadata = {

    val tableDir = s"$base/$uuid/table"
    val partitions = listDataFiles(spark, tableDir)
    if (partitions.keys.exists(_.contains("__HIVE_DEFAULT_PARTITION__"))) {
      DatasetMetadata.fs(spark, base).delete(new Path(s"$base/$uuid"), true)
      DatasetMetadata.invalidateCache(base, uuid)
      throw new IllegalArgumentException(
        s"Original dataframe size does not match a row-count-preserving partition_on: " +
          s"null values in partition columns ${partitionKeys.mkString(",")} are not allowed")
    }

    val md0 = DatasetMetadata(
      uuid = uuid, partitionKeys = partitionKeys, partitions = partitions,
      partitionSeq = partitions.keys.map(_ -> 0L).toMap,
      schemaJson = schema.json, metadata = userMetadata)
    val md = Sidecars.build(spark, base, md0,
      Sidecars.wanted(secondaryIndices, bloomFor, zoneMapFor))
    DatasetMetadata.store(spark, base, md, operation = "WRITE")
  }

  /** Relative-file-path label → size, from a recursive listing. */
  private def listDataFiles(spark: SparkSession, tableDir: String): Map[String, Long] = {
    val fs = DatasetMetadata.fs(spark, tableDir)
    val root = fs.makeQualified(new Path(tableDir))
    if (!fs.exists(root)) return Map.empty
    val prefix = root.toString + "/"
    val out = Map.newBuilder[String, Long]
    walkFiles(fs, root) { st =>
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith("."))
        out += st.getPath.toString.stripPrefix(prefix) -> st.getLen
    }
    out.result()
  }

  // --------------------------------------------------------------- sidecars

  /** Materialized zone map of `column` — (label → [min, max] strings, empty
    * seq = all-null file) — from the sidecar, or the legacy inline form for
    * pre-sidecar blobs. Catalog-sized; intended for tooling/tests (the read
    * path's probe reads the same rows on the driver, from [[SidecarRows]]'
    * part-file cache). Rows of labels `md` does not reference (fragments
    * appended after it) are dropped.
    */
  def zoneMapOf(spark: SparkSession, base: String, md: DatasetMetadata,
      column: String): Map[String, Seq[String]] = {
    val zone = Sidecars.Zone
    if (zone.registry(md).contains(column)) {
      val p = new Path(zone.path(base, md, column))
      if (!DatasetMetadata.fs(spark, base).exists(p)) Map.empty
      else SidecarRows.frame(spark, p).select("label", "mn", "mx").collect().collect {
        case r if md.partitions.contains(r.getString(0)) =>
          val mn = r.getString(1); val mx = r.getString(2)
          r.getString(0) -> (if (mn == null || mx == null) Seq.empty[String] else Seq(mn, mx))
      }.toMap
    } else md.inlineZoneMaps.getOrElse(column, Map.empty)
  }

  /** Bloom sizing bounds. Filters are sized to each file's ACTUAL distinct
    * hash count (clamped to these bounds), so small files don't pay a
    * fixed ~120 KB and huge files don't blow past the target FPP. An
    * overfull bloom only raises the false-positive rate — `mightContain`
    * never false-negatives — so sizing degrades pruning, never correctness.
    */
  val BloomMinItems: Long = 1000L
  val BloomMaxItems: Long = 10000000L
  val BloomFpp: Double = 0.01

  /** Highest part-file count across all registered sidecars (index /
    * bloom / zone): each appending commit adds one, and the commit that
    * finds [[Sidecars.MaxFragments]] folds the dir, so this never passes
    * it. O(sidecar dirs) flat listings — never touches the table dir.
    */
  def sidecarFragments(spark: SparkSession, base: String, uuid: String): Int = {
    val md = DatasetMetadata.load(spark, base, uuid)
    val fsys = DatasetMetadata.fs(spark, base)
    Sidecars.kinds.flatMap(k => k.registry(md).keys.map(k.path(base, md, _)))
      .flatMap(p => Sidecars.partFiles(fsys, new Path(p))).maxOption.getOrElse(0)
  }

  /** Register + compute zone maps on an EXISTING dataset (retrofit analog of
    * [[addIndex]]/[[addBloom]] — the migration path for datasets stored
    * before zone columns were chosen, or adopted from the reference layout
    * which has no zone maps). One narrow scan; O(#files × #cols) metadata.
    */
  def addZoneMaps(spark: SparkSession, base: String, uuid: String,
      columns: Seq[String]): DatasetMetadata =
    Sidecars.add(spark, base, uuid, Sidecars.Zone, columns)

  /** Register + build a Bloom sidecar on an EXISTING dataset (the bloom
    * analog of [[addIndex]]).
    */
  def addBloom(spark: SparkSession, base: String, uuid: String, column: String): DatasetMetadata =
    Sidecars.add(spark, base, uuid, Sidecars.Bloom, Seq(column))

  // ---------------------------------------------------------------- indices

  /** Build one secondary index over every label of `md` into `target` under
    * the index dir (version-addressed by callers) — see [[Sidecars.Index]].
    */
  def buildIndex(spark: SparkSession, base: String, md: DatasetMetadata, column: String,
      target: String): Unit =
    Sidecars.Index.build(spark, base, md, Map(column -> target), md.partitions.keys.toSeq.sorted)

  /** Decode a URI-encoded path column back to the on-disk/metadata label
    * form. `_metadata.file_path` and `input_file_name()` render the file's
    * URI (space → %20, '%' → %25, …) while the metadata maps, DV
    * fragments, index partition lists and storage listings all use the
    * decoded on-disk form — every label comparison must happen in ONE
    * coordinate system, or an encodable label silently misses its
    * tombstones and deleted rows RESURRECT (pinned in LabelEncodingSpec).
    * url_decode's '+'-as-space hazard is fenced by re-escaping literal
    * '+' first (URI path encoding leaves '+' literal); all codegen'd
    * builtins — no UDF lands on scan hot paths.
    */
  private[graft] def decodeUriPathCol(c: Column): Column =
    url_decode(regexp_replace(c, lit("\\+"), lit("%2B")))

  /** Partition label of the current input file by EXACT qualified-root
    * stripping — the ONE label-from-path idiom (the DV scans' driver-side
    * twin is [[stripLabelPrefix]]; two idioms for one coordinate system is
    * how the URI-resurrection bug happened). `_metadata.file_path` renders
    * a URI whose scheme/authority form (`file:///x`) differs from Hadoop's
    * qualified-path form (`file:/x`), so both sides normalize to the DECODED
    * filesystem path: the column drops `scheme:(//authority)?` then
    * URI-decodes; the prefix is the qualified table root's `toUri.getPath`
    * (Hadoop `Path` round-trips literal `%`/space through its internal URI,
    * so `getPath` returns the on-disk form). Loud on mismatch, like
    * [[stripLabelPrefix]]: a file outside the table root means the two
    * sides qualified differently, and guessing a label there risks
    * attributing rows (or tombstones) to the wrong file. All codegen'd
    * builtins — `raise_error` sits in the never-taken CASE branch.
    */
  private[graft] def labelCol(spark: SparkSession, tableDir: String,
      pathCol: Column = col("_metadata.file_path")): Column = {
    val qualified = DatasetMetadata.fs(spark, tableDir).makeQualified(new Path(tableDir))
    val prefix = qualified.toUri.getPath.stripSuffix("/") + "/"
    val decoded = decodeUriPathCol(
      regexp_replace(pathCol, lit("^[a-zA-Z][a-zA-Z0-9+.\\-]*:(//[^/]*)?"), lit("")))
    // Spark substr/length count CODE POINTS while String.length counts
    // UTF-16 units — a table root containing a supplementary character
    // (emoji volume name, rare CJK) would shift the label start by one per
    // such character and mislabel every row without tripping startsWith
    when(decoded.startsWith(lit(prefix)),
      decoded.substr(lit(prefix.codePointCount(0, prefix.length) + 1), length(decoded)))
      .otherwise(raise_error(concat(
        lit("input file '"), decoded,
        lit(s"' is not under the qualified table root '$prefix' — refusing " +
          "to guess its table-relative label"))))
  }

  /** The raw index frame, with the schema read from its first part's
    * footer (no inference job). One row per value after a canonical write
    * ([[store]], [[compact]], or an [[update]] that drops labels); each
    * pure-append [[update]] adds a fragment, so a value may spread over
    * several rows until the next canonical merge — consumers must treat
    * rows per value as a union. A fragment may also name labels `md` does
    * not reference (appended after `md`, or by a commit that lost its
    * race); intersect with `md`'s labels where that matters.
    */
  def loadIndex(spark: SparkSession, base: String, md: DatasetMetadata, column: String): DataFrame =
    SidecarRows.frame(spark, new Path(md.indexPath(base, column)))

  /** Distinct indexed values (≙ IndexBase.observed_values). */
  def observedValues(spark: SparkSession, base: String, md: DatasetMetadata, column: String): DataFrame =
    loadIndex(spark, base, md, column).select(col("value")).distinct()

  /** ≙ dataset.query / get_indices_as_dataframe (core/dataset.py:392-516):
    * labels matching the predicates using ONLY partition keys + sidecars.
    * Per conjunction: intersect per-literal label sets; union across
    * conjunctions.
    */
  def queryLabels(
      spark: SparkSession,
      base: String,
      md: DatasetMetadata,
      predicates: Predicates): Seq[String] = {
    val all = md.partitions.keys.toSeq.sorted
    if (predicates.isEmpty || all.isEmpty) return all
    val partCols = md.partitionKeys.toSet
    // per (kind, literal): one sidecar probe — index and zone rows are read
    // on the driver from the part-file cache, blooms tested on executors
    val probes =
      scala.collection.mutable.Map.empty[(Sidecars.Kind, PredLiteral), Option[Set[String]]]
    lazy val schema = md.schema
    val surviving = predicates.splitPerConjunction(partCols).zip(predicates.disjunction).flatMap {
      case ((partLits, _), conj) =>
        // 1. partition-key pruning from decoded labels (PartitionIndex),
        // each literal compared in its column's type
        val checks = partLits.map(l => l.col -> Sidecars.Zone.valueCheck(l, schema(l.col).dataType))
        val afterPart = all.filter { label =>
          val values = md.partitionValues(label)
          checks.forall { case (c, check) => values.get(c).forall(check) }
        }
        // 2. sidecar pruning (index, bloom, zone): intersect the label sets
        // each kind's probe returns; None (no sidecar file) keeps all
        val lits = conj.filter(l => !partCols.contains(l.col) && Sidecars.probeable(l))
        Sidecars.kinds.foldLeft(afterPart.toSet) { (labels, k) =>
          lits.filter(k.covers(md, _)).foldLeft(labels) { (ls, l) =>
            probes.getOrElseUpdate((k, l), k.probe(spark, base, md, l)).fold(ls)(ls intersect _)
          }
        }
    }.toSet
    all.filter(surviving.contains)
  }

  // ---------------------------------------------------------------- read

  /** Read a dataset as one DataFrame with DNF predicate pushdown:
    * driver-side label pruning (partition keys + secondary indices) picks the
    * file list, then a vanilla multi-file Parquet scan gets Catalyst column
    * pruning + row-group stats pushdown, and the exact residual filter is
    * re-applied (≙ the reference's three-stage filter,
    * serialization/_parquet.py:186-274).
    */
  def readTable(
      spark: SparkSession,
      base: String,
      uuid: String,
      columns: Seq[String] = Nil,
      predicates: Predicates = Predicates.empty,
      dispatchBy: Seq[String] = Nil,
      indexOn: Option[String] = None,
      labelFilter: String => Boolean = _ => true,
      filterQuery: Option[String] = None): DataFrame = {
    // predicates XOR filter_query, like the reference (_generic.py:56-66);
    // filterQuery is strictly more powerful (full Spark SQL expression)
    require(filterQuery.isEmpty || predicates.isEmpty,
      "predicates and filterQuery are mutually exclusive")
    val md0 = DatasetMetadata.load(spark, base, uuid)
    // label_filter hook (≙ io_components/read.py:123-124): restrict the
    // partition listing before any pruning/planning
    val md = md0.copy(partitions = md0.partitions.filter { case (l, _) => labelFilter(l) })
    val df0 = readTableWithMetadata(spark, base, md, columns, predicates, dispatchBy)
    val df = filterQuery.map(q => df0.filter(expr(q))).getOrElse(df0)
    // dask_index_on equivalent (io/dask/dataframe.py:160-169): range-
    // partitioned, sorted-within-partition layout on the index column
    indexOn match {
      case Some(c) => df.repartitionByRange(col(s"`$c`")).sortWithinPartitions(col(s"`$c`"))
      case None    => df
    }
  }

  def readTableWithMetadata(
      spark: SparkSession,
      base: String,
      md: DatasetMetadata,
      columns: Seq[String] = Nil,
      predicates: Predicates = Predicates.empty,
      dispatchBy: Seq[String] = Nil,
      withOverlayOrder: Boolean = false): DataFrame = {
    val labels = queryLabels(spark, base, md, predicates)
    val tableDir = md.tableDir(base)
    val schema = md.schema

    val base0: DataFrame =
      if (labels.isEmpty) {
        val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        if (withOverlayOrder) empty.withColumn("__seq", lit(0L)).withColumn("__pos", lit(0L))
        else empty
      } else {
        // merge-on-read row-level deletes: split the scan so ONLY files the
        // deletion vectors touch pay the (label, pos) anti-join — clean
        // files (the overwhelming majority after routine maintenance) scan
        // exactly as if no delete had ever happened
        val dirtyL = labels.filter(DeleteVectors.labels(spark, base, md).contains)
        val cleanL = labels.filterNot(dirtyL.toSet)
        val needPos = withOverlayOrder || dirtyL.nonEmpty
        // planned from the snapshot: recorded sizes, explicit schema
        def scanOf(ls: Seq[String]): DataFrame = {
          val s = SnapshotScan(spark, base, md, ls)
          if (needPos)
            // label → partitionSeq / DV lookups key on (label, position
            // within file), both from the hidden _metadata column
            s.withColumn("__label",
                labelCol(spark, tableDir))
              .withColumn("__pos", col("_metadata.row_index"))
          else s
        }
        val undeleted: DataFrame =
          if (dirtyL.isEmpty) scanOf(labels)
          else {
            val cleaned = DeleteVectors.dropDeleted(spark, base, md, dirtyL.toSet, scanOf(dirtyL))
            if (cleanL.isEmpty) cleaned else scanOf(cleanL).unionByName(cleaned)
          }
        if (withOverlayOrder) {
          // commit-order column: label → partitionSeq via a broadcast map
          // (metadata-sized)
          import spark.implicits._
          val seqDf = broadcast(
            labels.map(l => (l, md.seqOf(l))).toDF("__label", "__seq"))
          undeleted.join(seqDf, Seq("__label")).drop("__label")
        } else if (needPos) undeleted.drop("__label", "__pos")
        else undeleted
      }

    val filtered =
      if (predicates.isEmpty) base0 else base0.filter(predicates.toColumn)
    val extras = if (withOverlayOrder) Seq("__seq", "__pos") else Nil
    val ordered = filtered.select((schema.fieldNames.toSeq ++ extras).map(c => col(s"`$c`")): _*)
    val projected =
      if (columns.isEmpty) ordered
      else {
        val missing = columns.filterNot(schema.fieldNames.contains)
        require(missing.isEmpty, s"Columns not in dataset: ${missing.mkString(",")}")
        ordered.select((columns ++ extras).map(c => col(s"`$c`")): _*)
      }
    if (dispatchBy.nonEmpty) projected.repartition(dispatchBy.map(c => col(s"`$c`")): _*)
    else projected
  }

  /** Semi-join FILE pruning — the catalog-level analog of Spark's dynamic
    * file pruning, driven by our own metadata instead of a runtime filter:
    * when the probe side's distinct keys fit `maxKeys`, collect them and
    * read with an IN predicate, so `queryLabels` prunes files through every
    * skipping layer that applies (partition keys, secondary indices, zone
    * maps, Bloom sidecars) and the residual IN filter keeps the result
    * EXACTLY the semi join. Oversized key sets fall back to a plain read +
    * broadcast-or-shuffled left_semi join — correct at any probe size, just
    * without file-level skipping.
    *
    * The classic 100 TB shape: a point-ish dimension filter (thousands of
    * keys) against a fact table with a Bloom sidecar on the join key touches
    * only the files that can contain those keys, instead of scheduling a
    * full fact scan to throw 99.99% of it away at the join.
    */
  def semiJoinRead(
      spark: SparkSession,
      base: String,
      uuid: String,
      column: String,
      keysDf: DataFrame,
      maxKeys: Int = 10000,
      columns: Seq[String] = Nil): DataFrame = {
    require(columns.isEmpty || columns.contains(column),
      s"projection must retain join column '$column'")
    val keyCol = keysDf.columns.head
    val distinctKeys = keysDf.select(col(s"`$keyCol`")).where(col(s"`$keyCol`").isNotNull).distinct()
    // cap check collects at most maxKeys+1 rows, never the whole probe side
    val keys = distinctKeys.limit(maxKeys + 1).collect().map(_.get(0)).toSeq
    if (keys.size <= maxKeys)
      readTable(spark, base, uuid, columns = columns,
        predicates = Predicates(Seq(Seq(PredLiteral(column, graft.core.PredOp.In, keys)))))
    else
      readTable(spark, base, uuid, columns = columns)
        .join(distinctKeys.withColumnRenamed(keyCol, column), Seq(column), "left_semi")
  }

  /** Iterator backend (≙ io/iter.py) — lazy per-partition pull. */
  def readTableAsIterator(
      spark: SparkSession,
      base: String,
      uuid: String,
      columns: Seq[String] = Nil,
      predicates: Predicates = Predicates.empty): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    readTable(spark, base, uuid, columns, predicates).toLocalIterator().asScala
  }

  // ------------------------------------------------------- CHECK constraints

  private val ConstraintPrefix = "graft.constraint."

  /** Registered CHECK constraints: name → boolean SQL expression. They ride
    * in `metadata`, so every commit record and snapshot carries them and
    * time travel sees the constraint set of its version.
    */
  def constraints(md: DatasetMetadata): Map[String, String] =
    md.metadata.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }

  /** Add a CHECK constraint (Delta `ALTER TABLE ADD CONSTRAINT` analog):
    * validates EXISTING data first (one scan — a constraint that current
    * rows violate is rejected with a sample), then commits the rule;
    * every subsequent [[update]]/[[merge]]/[[mergeCdc]] batch is checked
    * before any file lands, and a violating batch fails the WHOLE commit.
    * NULL results follow SQL CHECK semantics: only rows evaluating FALSE
    * violate.
    */
  def addCheckConstraint(
      spark: SparkSession, base: String, uuid: String,
      name: String, sqlExpr: String): DatasetMetadata = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    val md = DatasetMetadata.load(spark, base, uuid)
    val existing = readTableWithMetadata(spark, base, md)
      .filter(expr(sqlExpr) <=> lit(false)).limit(3)
      .collect()
    require(existing.isEmpty,
      s"cannot add constraint '$name' ($sqlExpr): existing rows violate it, " +
        s"e.g. ${existing.take(1).mkString}")
    val md1 = md.copy(metadata = md.metadata + (s"$ConstraintPrefix$name" -> sqlExpr))
    DatasetMetadata.store(spark, base, md1, parentMd = Some(md),
      operation = "ADD CONSTRAINT")
  }

  def dropConstraint(
      spark: SparkSession, base: String, uuid: String, name: String): DatasetMetadata = {
    val md = DatasetMetadata.load(spark, base, uuid)
    require(md.metadata.contains(s"$ConstraintPrefix$name"),
      s"no constraint named '$name'")
    val md1 = md.copy(metadata = md.metadata - s"$ConstraintPrefix$name")
    DatasetMetadata.store(spark, base, md1, parentMd = Some(md),
      operation = "DROP CONSTRAINT")
  }

  /** Fail loudly if `batch` violates any registered constraint — called by
    * the mutation paths BEFORE any file is written, so a bad batch leaves
    * nothing behind. One pass per constraint over the batch only (never
    * the table); at 100 TB that's O(commit), the price of the guarantee.
    */
  private def enforceConstraints(md: DatasetMetadata, batch: DataFrame): Unit =
    constraints(md).toSeq.sortBy(_._1).foreach { case (name, sqlExpr) =>
      val bad = batch.filter(expr(sqlExpr) <=> lit(false)).limit(3).collect()
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"batch violates CHECK constraint '$name' ($sqlExpr): " +
            s"${bad.length}+ row(s), e.g. ${bad.take(1).mkString}")
    }

  // ------------------------------------------------- row-level deletes (DV)

  /** The (label, pos) pairs of live rows in `candidates` matching `cond`,
    * minus pairs an existing fragment already deletes — fragments stay
    * DISJOINT, so re-running the same DELETE finds nothing and deleted-row
    * counts stay meaningful.
    */
  private def freshDeletePairs(
      spark: SparkSession, base: String, md: DatasetMetadata,
      candidates: Seq[String], cond: org.apache.spark.sql.Column): DataFrame = {
    val hits = SnapshotScan(spark, base, md, candidates)
      .filter(cond)
      .select(
        labelCol(spark, md.tableDir(base)).as("label"),
        col("_metadata.row_index").as("pos"))
    DeleteVectors.dropDeleted(spark, base, md, candidates.toSet, hits, "label", "pos")
  }

  /** Last-consumed version recorded in a consumer checkpoint; 0 when the
    * checkpoint does not exist yet (nothing consumed — keep everything).
    * Two shapes are understood, so every consumer kind can register with
    * [[garbageCollect]]'s `consumerCheckpoints` floor:
    *
    *  - a [[consumeChanges]]/[[mirrorChanges]] blob (a plain version
    *    number in one small file);
    *  - a Structured Streaming `checkpointLocation` DIRECTORY of a
    *    `graft`/`graft-cdc` stream: the floor is the offset of the batch
    *    BEFORE the newest committed one (V1 sources replay the last
    *    committed batch on restart, so its whole input range must stay
    *    readable; planned-but-uncommitted batches never advance it). The
    *    offset file's [[graft.sources.GraftOffset]] json is the commit
    *    version; the MINIMUM of the file's numeric-parseable offset lines
    *    is taken, conservative for multi-source queries.
    *
    * Corrupt contents fail loudly with recovery instructions.
    */
  def readChangeCheckpoint(spark: SparkSession, checkpointPath: String): Long = {
    val fsys = DatasetMetadata.fs(spark, checkpointPath)
    val ckpt = new Path(checkpointPath)
    val offsetsDir = new Path(ckpt, "offsets")
    val isDir =
      try fsys.getFileStatus(ckpt).isDirectory
      catch { case _: java.io.FileNotFoundException => return 0L }
    // a directory WITHOUT offsets/ is a checkpoint Spark created but has
    // not planned a batch into yet — nothing consumed
    if (isDir && !fsys.exists(offsetsDir)) return 0L
    if (isDir) {
      // batch ids are plain numbers (compaction-less OffsetSeqLog names).
      // Planned-but-uncommitted batches never advance the floor
      // (conservatively 0 while no batch has completed yet).
      def digitNames(dir: Path): Seq[Long] =
        try fsys.listStatus(dir).toSeq
          .map(_.getPath.getName).filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
        catch { case _: java.io.FileNotFoundException => Nil }
      val batches = digitNames(offsetsDir)
      if (batches.isEmpty) return 0L
      val committed = digitNames(new Path(ckpt, "commits")).toSet
      val maxCommitted = batches.filter(committed.contains).maxOption.getOrElse(return 0L)
      // V1 sources (graft-cdc) additionally REPLAY the last committed
      // batch on restart — Spark re-calls getBatch(prevOffset, lastOffset)
      // to restore source state — so the floor is the PREVIOUS committed
      // batch's offset: versions of the replayed range must survive too.
      // (Conservative for the V2 graft source by exactly one batch.)
      val floorBatch = maxCommitted - 1
      if (floorBatch < 0 || !batches.contains(floorBatch)) return 0L
      val newest = new Path(offsetsDir, floorBatch.toString)
      val in = fsys.open(newest)
      val txt = new String(
        try in.readAllBytes() finally in.close(),
        java.nio.charset.StandardCharsets.UTF_8)
      // OffsetSeqLog: "v1" line, metadata json line, then one offset json
      // per source — graft offsets serialize as the bare version number
      val versions = txt.linesIterator.drop(2)
        .map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .flatMap(l => scala.util.Try(l.toLong).toOption)
        .toSeq
      if (versions.isEmpty) throw new IllegalStateException(
        s"streaming checkpoint $ckpt carries no graft version offset in " +
          s"offsets/$floorBatch — is this a graft/graft-cdc stream's checkpoint?")
      return versions.min
    }
    try {
      val in = fsys.open(ckpt)
      val bytes = try in.readAllBytes() finally in.close()
      val txt = new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim
      try txt.toLong catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"corrupt change checkpoint $ckpt (contents: '${txt.take(64)}'). " +
            "Delete the file to replay from version 0, or write a plain " +
            "version number to resume from that version.")
      }
    } catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** At-least-once incremental consumption of [[readChangeFeed]]: reads
    * the last-consumed version from a tiny checkpoint blob, hands
    * `(changes, fromVersion, toVersion]` to `f`, and advances the
    * checkpoint ONLY after `f` returns — a crash mid-`f` redelivers the
    * same range (idempotent consumers, the foreachBatch contract).
    * `maxVersionsPerPoll` bounds each batch like the streaming source's
    * admission control; loop until 0 to drain. The downstream-mirror
    * companion of the append-only stream for consumers that need the
    * DELETE side.
    */
  def consumeChanges(
      spark: SparkSession,
      base: String,
      uuid: String,
      checkpointPath: String,
      maxVersionsPerPoll: Int = 100)(f: (DataFrame, Long, Long) => Unit): Long = {
    require(maxVersionsPerPoll >= 1, "maxVersionsPerPoll must be >= 1")
    val fsys = DatasetMetadata.fs(spark, checkpointPath)
    val ckpt = new Path(checkpointPath)
    val last: Long = readChangeCheckpoint(spark, checkpointPath)
    val cur = DatasetMetadata.load(spark, base, uuid).version
    if (cur <= last) return 0L
    val to = math.min(cur, last + maxVersionsPerPoll)
    f(readChangeFeed(spark, base, uuid, last, to), last, to)
    // advance AFTER the consumer succeeded, via ATOMIC replace: a
    // delete-then-rename pair could lose the checkpoint entirely if the
    // process dies between the two calls (next poll would replay from 0,
    // or fail outright once early versions are gc'd)
    val tmp = new Path(ckpt.getParent, s".${ckpt.getName}.tmp")
    val out = fsys.create(tmp, true)
    try out.write(to.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    DatasetMetadata.atomicReplace(spark, fsys, tmp, ckpt)
    to - last
  }

  /** The deletion-vector fragments a commit publishes — one rule for every
    * writer: the parent's fragments pruned of the labels the commit
    * `removed`, plus its own `fresh` fragment, folded at
    * [[Sidecars.MaxFragments]].
    *
    *  - Nothing removed: the parent's fragments stand and none is read, so
    *    an append stays O(batch).
    *  - Labels removed: fragments stand when none of their live labels is
    *    removed, and drop when all of them are (a rewrite materialized
    *    those rows, or a scope dropped the files). Otherwise they
    *    canonicalize into ONE fragment holding only the surviving labels'
    *    rows, so no fragment keeps a dropped file's tombstones.
    *  - Past the bound every fragment folds into ONE canonical fragment of
    *    the `live` labels' rows — O(live tombstones), no data movement — so
    *    a long run of small deletes cannot make every read union an
    *    unbounded fragment list.
    *
    * Replaced fragments become unreferenced → [[garbageCollect]].
    */
  private def deletesAfter(
      spark: SparkSession, base: String, parent: DatasetMetadata, live: Set[String],
      removed: Set[String], fresh: Option[String]): Seq[String] = {
    import spark.implicits._
    def rewrite(frags: Seq[String], keep: Set[String]): Seq[String] =
      DeleteVectors.read(spark, base, parent.copy(deletes = frags), keep).flatMap(dv =>
        DeleteVectors.write(spark, base, parent.uuid,
          dv.join(broadcast(keep.toSeq.toDF("label")), Seq("label"), "left_semi"))
      ).map(_._1).toSeq
    val frags = parent.deleteFragments
    val kept =
      if (frags.isEmpty || removed.isEmpty) frags
      else {
        // only vectors over LIVE files count: a fragment naming dead labels
        // alone must not keep the dataset looking dirty (hasRowDeletes
        // gates footer pushdown and keyed joins)
        val dirty = DeleteVectors.labels(spark, base, parent).intersect(parent.partitions.keySet)
        if (dirty.subsetOf(removed)) Nil
        else if (!dirty.exists(removed)) frags
        else rewrite(frags, dirty -- removed)
      }
    val all = kept ++ fresh
    if (all.size <= Sidecars.MaxFragments) all else rewrite(all, live)
  }

  /** Row-level DELETE (Delta/Iceberg merge-on-read): mark every live row
    * matching the predicate deleted by committing ONE immutable
    * deletion-vector fragment of `(file label, row position)` pairs — NO
    * data file is rewritten, so a GDPR-style delete of a few rows from a
    * 100 TB dataset costs one scan of the files that can match (pruned
    * through partition keys / indices / zone maps / Bloom sidecars for DNF
    * `predicates`; `filterQuery` takes arbitrary Spark SQL but scans all
    * files) plus a tombstone write O(#matched rows). Reads apply the
    * vectors as a (label, pos) anti-join on exactly the touched files;
    * [[compact]], [[clusterZOrder]] and [[materializeDeletes]] drop the
    * rows physically and shed the fragments.
    *
    * DELETES ARE PHYSICAL-ROW OPERATIONS: on an overlay (keep-last cube)
    * dataset the predicate marks matching rows in EVERY commit, shadowed
    * ones included; a shadowed row that does NOT match a predicate its
    * shadowing winner matches will resurface. Plain (non-overlay) datasets
    * — every `Ktk.store`/`update` table — have no shadowing and no such
    * subtlety.
    *
    * Returns the committed metadata and the number of rows deleted; a
    * predicate matching nothing commits nothing and returns (current, 0).
    */
  def deleteRows(
      spark: SparkSession,
      base: String,
      uuid: String,
      predicates: Predicates = Predicates.empty,
      filterQuery: Option[String] = None): (DatasetMetadata, Long) = {
    require(predicates.isEmpty ^ filterQuery.isEmpty,
      "deleteRows takes exactly one of predicates / filterQuery")
    val md = DatasetMetadata.load(spark, base, uuid)
    if (md.partitions.isEmpty) return (md, 0L)
    val candidates =
      if (predicates.isEmpty) md.partitions.keys.toSeq.sorted
      else queryLabels(spark, base, md, predicates)
    if (candidates.isEmpty) return (md, 0L)
    val cond = filterQuery.map(expr).getOrElse(predicates.toColumn)
    DeleteVectors.write(spark, base, uuid,
        freshDeletePairs(spark, base, md, candidates, cond)) match {
      case None => (md, 0L)
      case Some((name, n)) =>
        val md1 = md.copy(deletes =
          deletesAfter(spark, base, md, md.partitions.keySet, Set.empty, Some(name)))
        (DatasetMetadata.store(spark, base, md1, parentMd = Some(md),
          operation = "DELETE"), n)
    }
  }

  /** Row-level UPDATE (merge-on-read, the SQL `UPDATE t SET ... WHERE ...`
    * shape Delta/Iceberg expose): every live row matching the predicate is
    * tombstoned (one DV fragment, [[deleteRows]] mechanics) and re-appended
    * with the `set` expressions applied — ONE atomic commit, ZERO rewrites
    * of untouched rows, so updating a few rows of a 100 TB dataset costs a
    * pruned scan of the files that can match plus O(matched rows) of
    * tombstone + new-file bytes. `set` values are Columns and may reference
    * the row's OLD values (`col("v") * 2`); each is cast to the column's
    * declared type. Updating a partition column moves rows to their new
    * directory through the normal dynamic-partition write. CHECK
    * constraints gate the UPDATED rows before any side effect. The matched
    * set is persisted (memory-and-disk) so the scan runs once for both the
    * tombstone and the rewrite sides.
    *
    * Returns the committed metadata and the number of rows updated; a
    * predicate matching nothing commits nothing.
    */
  def updateRows(
      spark: SparkSession,
      base: String,
      uuid: String,
      set: Map[String, Column],
      predicates: Predicates = Predicates.empty,
      filterQuery: Option[String] = None,
      conditionCol: Option[Column] = None): (DatasetMetadata, Long) = {
    require(set.nonEmpty, "updateRows requires at least one SET column")
    require(Seq(!predicates.isEmpty, filterQuery.nonEmpty, conditionCol.nonEmpty)
        .count(x => x) == 1,
      "updateRows takes exactly one of predicates / filterQuery / conditionCol")
    val md = DatasetMetadata.load(spark, base, uuid)
    val schema = md.schema
    set.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"SET column '$c' not in dataset schema"))
    if (md.partitions.isEmpty) return (md, 0L)
    val candidates =
      if (predicates.isEmpty) md.partitions.keys.toSeq.sorted
      else queryLabels(spark, base, md, predicates)
    lastUpdateCandidates.set(candidates.size)
    if (candidates.isEmpty) return (md, 0L)
    val cond = conditionCol.orElse(filterQuery.map(expr)).getOrElse(predicates.toColumn)
    val tableDir = md.tableDir(base)
    // one scan feeds BOTH sides: (label, pos) tombstones + rows to rewrite
    val matched = SnapshotScan(spark, base, md, candidates)
      .filter(cond)
      .withColumn("__label",
        labelCol(spark, tableDir))
      .withColumn("__pos", col("_metadata.row_index"))
    val live = DeleteVectors.dropDeleted(spark, base, md, candidates.toSet, matched).select((schema.fieldNames.toSeq ++ Seq("__label", "__pos")).map(c => col(s"`$c`")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val updated = live.select(schema.fields.toSeq.map { f =>
        set.get(f.name).map(_.cast(f.dataType).as(f.name))
          .getOrElse(col(s"`${f.name}`"))
      }: _*)
      val normalized = SchemaUtil.normalize(updated, md.partitionKeys)
      // constraints gate the batch before ANY side effect
      enforceConstraints(md, normalized)
      val fragment: Option[(String, Long)] = DeleteVectors.write(spark, base, uuid,
        live.select(col("__label").as("label"), col("__pos").as("pos")))
      if (fragment.isEmpty) return (md, 0L)
      val added = writeBatch(spark, tableDir, md.partitionKeys, normalized)
      (commitSnapshot(spark, base, md, added, Set.empty, SeqRule.Append, "UPDATE",
        fresh = fragment.map(_._1)), fragment.get._2)
    } finally live.unpersist()
  }

  /** MERGE (upsert): every live target row whose `keys` match a source row
    * is replaced by the source's rows; source rows with unmatched keys are
    * inserted. One atomic commit, ZERO data-file rewrites — the matched
    * target rows become a deletion-vector fragment (merge-on-read, see
    * [[deleteRows]]) and the source appends as new files, so a continuous
    * upsert feed pays O(batch) per merge regardless of target size. Source
    * multiplicity is preserved: N source rows sharing a key all land (the
    * matched target rows are deleted once).
    *
    * Matched-row discovery prunes through every skipping layer when the
    * source's distinct key tuples fit `maxCollectKeys` (single-key sources
    * also push an IN filter into the parquet scan — the [[semiJoinRead]]
    * pattern); larger sources prune through their per-key-column min/max
    * RANGE envelope (partition values + zone maps + row-group stats — one
    * map-side agg over the batch), so a clustered wide-key CDC batch never
    * scans the whole table; the semi join keeps either path exact.
    *
    * `deleteKeys` (columns in `keys` order) adds WHEN MATCHED THEN DELETE
    * keys: their matches tombstone without any row landing — the CDC
    * delete-marker path ([[mergeCdc]]).
    *
    * Returns the committed metadata and the number of target rows replaced.
    */
  def merge(
      spark: SparkSession,
      base: String,
      uuid: String,
      source: DataFrame,
      keys: Seq[String],
      maxCollectKeys: Int = 10000,
      extraMetadata: Map[String, String] = Map.empty,
      deleteKeys: Option[DataFrame] = None,
      evolveSchema: Boolean = false): (DatasetMetadata, Long) = {
    require(keys.nonEmpty, "merge requires at least one key column")
    lastMergeCandidates.set(-1)
    val md = DatasetMetadata.load(spark, base, uuid)
    val schema = md.schema
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key '$k' not in dataset schema"))
    // additive evolution mirrors update(): the upstream-ALTER-TABLE case of
    // a CDC mirror
    val schemaOn = batchSchema(md, source, evolveSchema, "merge")
    val tableDir = md.tableDir(base)
    // CHECK constraints gate the batch before ANY side effect (even the
    // tombstone fragment) — a violating batch leaves nothing behind
    val normalized = SchemaUtil.normalize(source, md.partitionKeys)
    enforceConstraints(md, normalized)

    // 1. matched target rows → one DV fragment. Collectable key sets prune
    //    files through queryLabels (partition / index / zone / bloom); the
    //    residual semi join keeps the result exact either way. `deleteKeys`
    //    (CDC delete markers) tombstone matches WITHOUT contributing rows —
    //    a delete of an absent key is a no-op, like SQL MERGE's
    //    WHEN MATCHED THEN DELETE.
    val srcKeys = deleteKeys.map(_.toDF(keys: _*))
      .foldLeft(source.select(keys.map(c => col(s"`$c`")): _*))(_ unionByName _)
      .distinct()
    val collected: Option[Seq[Row]] = {
      val rows = srcKeys.limit(maxCollectKeys + 1).collect().toSeq
      if (rows.size <= maxCollectKeys) Some(rows) else None
    }
    // large source (distinct keys exceed maxCollectKeys): ONE map-side
    // min/max agg over the batch keys gives a per-column RANGE envelope,
    // a Ge/Le conjunction that prunes through queryLabels (partition
    // values, secondary index, zone maps; bloom passes ranges through),
    // so a time- or id-clustered wide-key CDC batch scans only the files
    // whose stats intersect it; the residual semi join keeps the result
    // exact. Spark computed the envelope in Spark's order, and pruning
    // compares in that same order (`Predicates.compare`: strings by code
    // point, doubles with -0.0 = 0.0), so a file holding a batch key is
    // never dropped. Strings, numerics, dates and timestamps contribute
    // bounds; arrays/binary/structs none. A null min means the column
    // held ONLY nulls, which matches nothing (MERGE ON `=` is
    // null-rejecting).
    lazy val keyBounds: Seq[(String, Any, Any)] = {
      val aggExprs = keys.flatMap(k =>
        Seq(min(col(s"`$k`")).as(s"__lo_$k"), max(col(s"`$k`")).as(s"__hi_$k")))
      val row = srcKeys.agg(aggExprs.head, aggExprs.drop(1): _*).collect()(0)
      keys.zipWithIndex.map { case (k, i) => (k, row.get(2 * i), row.get(2 * i + 1)) }
    }
    def comparableBound(v: Any): Boolean = v match {
      case _: String | _: Number | _: Boolean => true
      case _: java.sql.Date | _: java.sql.Timestamp => true
      case _ => false
    }
    val fragment: Option[(String, Long)] =
      if (md.partitions.isEmpty) None
      else {
        // collectable key sets prune PER KEY COLUMN: a conjunction of
        // per-column IN predicates runs through the full pruning ladder
        // (partition values / index / zone maps / bloom), so a clustered
        // multi-column CDC batch touches only the files whose stats
        // intersect EVERY key column's value set — a superset of the
        // exact struct match (the residual semi join below keeps it
        // exact), never the whole table. A key column that collected
        // only nulls can match no row (MERGE ON `=` is null-rejecting).
        val perColVals: Option[Seq[(String, Seq[Any])]] = collected.map { rows =>
          keys.zipWithIndex.map { case (k, i) =>
            k -> rows.map(_.get(i)).filter(_ != null).distinct
          }
        }
        val candidates = perColVals match {
          case Some(cols) =>
            if (cols.exists(_._2.isEmpty)) Nil
            else queryLabels(spark, base, md, Predicates(Seq(
              cols.map { case (k, vs) => PredLiteral(k, graft.core.PredOp.In, vs) })))
          case None =>
            if (keyBounds.exists(_._2 == null)) Nil
            else {
              val rangeLits = keyBounds.flatMap {
                case (k, lo, hi) if comparableBound(lo) && comparableBound(hi) =>
                  Seq(PredLiteral(k, graft.core.PredOp.Ge, lo),
                    PredLiteral(k, graft.core.PredOp.Le, hi))
                case _ => Nil
              }
              if (rangeLits.isEmpty) md.partitions.keys.toSeq.sorted
              else queryLabels(spark, base, md, Predicates(Seq(rangeLits)))
            }
        }
        lastMergeCandidates.set(candidates.size)
        if (candidates.isEmpty) None
        else {
          val scan0 = SnapshotScan(spark, base, md, candidates)
          // collected keys: also push the per-column INs into row-group
          // pruning (conjunction is a superset of the struct match);
          // large sources push their range envelope the same way
          val scan = perColVals match {
            case Some(cols) =>
              cols.foldLeft(scan0) { case (s, (k, vs)) =>
                s.filter(col(s"`$k`").isin(vs: _*))
              }
            case None =>
              keyBounds.foldLeft(scan0) {
                case (s, (k, lo, hi)) if comparableBound(lo) && comparableBound(hi) =>
                  s.filter(col(s"`$k`") >= lit(lo) && col(s"`$k`") <= lit(hi))
                case (s, _) => s
              }
          }
          // SQL MERGE ON semantics: `=` matching, null keys never match
          val probe = if (collected.isDefined) broadcast(srcKeys) else srcKeys
          val hits = scan
            .join(probe, keys.map(k => scan(k) === probe(k)).reduce(_ && _), "left_semi")
            .select(
              labelCol(spark, tableDir).as("label"),
              col("_metadata.row_index").as("pos"))
          DeleteVectors.write(spark, base, uuid,
            DeleteVectors.dropDeleted(spark, base, md, candidates.toSet, hits, "label", "pos"))
        }
      }

    // 2. append the source as new files (the update() write path)
    val added = writeBatch(spark, tableDir, md.partitionKeys, normalized)
    (commitSnapshot(spark, base, md, added, Set.empty, SeqRule.Append, "MERGE",
      fresh = fragment.map(_._1), schema = schemaOn, metadata = extraMetadata),
      fragment.map(_._2).getOrElse(0L))
  }

  /** One commit's change-feed plan, diffed against the walk's previous
    * step and holding no snapshot: labels carry their recorded sizes,
    * which plan the scans; `dv` is the fresh tombstones `(__dvl, __dvp)`
    * with the parent-version files they hit.
    */
  private final case class CdfVersionPlan(
      v: Long,
      freshAdds: Seq[(String, Long)],
      dv: Option[(DataFrame, Seq[(String, Long)])],
      parentFrags: Seq[String],
      gone: Seq[(String, Long)])

  /** Batch CDC reader (Delta CHANGE DATA FEED analog): every row-level
    * change committed in `(fromVersion, toVersion]`, with
    * `_change_type` ('insert' | 'delete') and `_commit_version` columns
    * appended to the table schema. Complements the append-only streaming
    * change feed with the DELETE side deletion vectors made precise:
    *
    *  - INSERTS: labels a commit added with a NEW sequence number (same
    *    rewrite-vs-append discrimination as the streaming source — compact
    *    / z-order / materializeDeletes re-adds carry their victims' seq and
    *    stay SILENT).
    *  - DELETES: (a) deletion-vector fragments the commit added, joined
    *    back to their data files — exactly the tombstoned rows; (b) labels
    *    the commit removed with NO same-seq re-add (a delete_scope), minus
    *    rows already dead at the parent version.
    *
    * Work per version is O(that commit's changed rows); the snapshots come
    * from ONE `_versions` listing and one ascending walk of the commit log
    * over `[fromVersion, toVersion]` ([[DatasetMetadata.replay]]: one
    * record read per version, one snapshot held at a time; a severed
    * replay chain fails like [[DatasetMetadata.loadVersion]]). Needs the
    * range's snapshots AND the
    * referenced files/fragments still present — run gc with
    * `retainVersions` covering the consumer's lag, like the stream.
    * Limitations (documented, not silent): a `rollback` restores content
    * by re-adding OLD-seq labels, which the feed reports only on the
    * remove side — re-sync after rollbacks; intra-commit insert+delete of
    * the same row (no current writer produces one) would emit both.
    */
  def readChangeFeed(
      spark: SparkSession,
      base: String,
      uuid: String,
      fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    // the pointer before the listing: every published version is listed
    val head = DatasetMetadata.head(spark, base, uuid)
    val log = DatasetMetadata.listLog(spark, base, uuid)
    val headV = head.fold(_.version, identity)
    val to = if (toVersion < 0) headV else toVersion
    require(fromVersion <= to,
      s"empty change range: fromVersion=$fromVersion > toVersion=$to")
    def hwmOf(md: DatasetMetadata): Long = math.max(
      md.metadata.get(DatasetMetadata.SeqHwmKey).map(_.toLong).getOrElse(0L),
      (0L +: md.partitions.keys.toSeq.map(md.seqOf)).max)

    def planOf(v: Long, mdP: DatasetMetadata, mdV: DatasetMetadata): CdfVersionPlan = {
      // bootstrap: the initial commit's labels legitimately carry seq 0 —
      // same sentinel the streaming source uses for its first batch
      val hwm = if (v == 1L) Long.MinValue else hwmOf(mdP)
      val added = mdV.partitions.keySet -- mdP.partitions.keySet
      val removed = mdP.partitions.keySet -- mdV.partitions.keySet
      val rewrittenSeqs = added.filter(l => mdV.seqOf(l) <= hwm).map(mdV.seqOf)
      // (a) tombstones this commit added — the fragment IS the row list.
      // Every fragment writer subtracts the live tombstones, so a commit
      // that keeps all its parent's fragments adds disjoint pairs. Only a
      // commit that dropped one (a fold or a pruned rewrite) can re-list
      // old tombstones in its "new" fragment, so only there are the pairs
      // already dead at the parent anti-joined away.
      val newFrags = mdV.copy(deletes = mdV.deleteFragments.filterNot(mdP.deleteFragments.toSet))
      val droppedParentFrag = !mdP.deleteFragments.forall(mdV.deleteFragments.toSet)
      // the manifests' labels, no job: a fold commit's manifest may name
      // labels of old tombstones too, which the (label, pos) join drops
      val hit = DeleteVectors.labels(spark, base, newFrags).filter(mdP.partitions.keySet.contains)
      val dv = DeleteVectors.read(spark, base, newFrags, hit).map { dvNew =>
        val fresh =
          if (!droppedParentFrag) dvNew
          else DeleteVectors.dropDeleted(spark, base, mdP, hit, dvNew, "label", "pos")
        (fresh.select(col("label").as("__dvl"), col("pos").as("__dvp")),
          SnapshotScan.sized(mdP, hit.toSeq.sorted))
      }
      CdfVersionPlan(v,
        freshAdds = SnapshotScan.sized(mdV, added.filter(l => mdV.seqOf(l) > hwm).toSeq.sorted),
        dv = dv,
        parentFrags = mdP.deleteFragments,
        gone = SnapshotScan.sized(mdP,
          removed.filter(l => !rewrittenSeqs.contains(mdP.seqOf(l))).toSeq.sorted))
    }

    // one walk over [from, to]: each commit diffs against the previous
    // step; fromVersion = 0 reads the initial commit against an empty
    // parent — the whole v1 content arrives as inserts (bootstrap)
    var prev: DatasetMetadata = null
    val plans = DatasetMetadata.replay(spark, base, uuid,
        math.max(1L, fromVersion) to to, log).flatMap { case (v, mdV) =>
      val plan = Option.when(v > fromVersion)(planOf(v,
        if (v == 1L) DatasetMetadata(uuid = uuid, schemaJson = mdV.schemaJson) else prev, mdV))
      prev = mdV
      plan
    }.toList
    val cur =
      if (prev != null && to == headV) prev
      else head.fold(identity, DatasetMetadata.loadVersion(spark, base, uuid, _))
    // Always read with the CURRENT schema: additive evolution guarantees
    // files from pre-evolution versions surface the new columns as null,
    // so a feed range spanning an evolveSchema commit projects cleanly
    // (reading with each version's own schema would leave the final
    // current-schema projection unresolved).
    val schema = cur.schema
    val tableDir = cur.tableDir(base)
    def scanLabels(files: Seq[(String, Long)], withPos: Boolean): DataFrame = {
      val s = SnapshotScan.files(spark, tableDir, schema, cur.partitionKeys, files)
      if (withPos)
        s.withColumn("__label",
            labelCol(spark, tableDir))
          .withColumn("__pos", col("_metadata.row_index"))
      else s
    }
    def project(df: DataFrame, ct: String, v: Long): DataFrame =
      df.select(schema.fieldNames.map(c => col(s"`$c`")): _*)
        .withColumn("_change_type", lit(ct))
        .withColumn("_commit_version", lit(v))

    val perVersion: Seq[DataFrame] = plans.flatMap { plan =>
      val v = plan.v
      val inserts: Option[DataFrame] =
        if (plan.freshAdds.isEmpty) None
        else Some(project(scanLabels(plan.freshAdds, withPos = false), "insert", v))
      val dvDeletes: Option[DataFrame] = plan.dv.map { case (dv, files) =>
        project(
          scanLabels(files, withPos = true)
            .join(dv, col("__label") === col("__dvl") && col("__pos") === col("__dvp"),
              "left_semi"),
          "delete", v)
      }
      // (b) delete_scope: removed labels with no same-seq rewrite; rows
      // already tombstoned at the parent don't die twice
      val scopeDeletes: Option[DataFrame] =
        if (plan.gone.isEmpty) None
        else {
          val live = DeleteVectors.dropDeleted(spark, base, cur.copy(deletes = plan.parentFrags),
            plan.gone.map(_._1).toSet, scanLabels(plan.gone, withPos = true))
          Some(project(live, "delete", v))
        }
      Seq(inserts, dvDeletes, scopeDeletes).flatten
    }
    // BALANCED union tree: a left-deep unionByName chain re-analyzes a
    // growing plan per link (quadratic in the version count); grouping
    // keeps analysis O(n log n), so wide ranges (100+ versions) plan flat.
    // (consumeChanges bounds ranges anyway — this covers the direct API.)
    def unionBalanced(dfs: Seq[DataFrame]): DataFrame =
      if (dfs.size <= 8) dfs.reduce(_ unionByName _)
      // recurse on the group results too — reducing them left-deep would
      // reintroduce the quadratic chain one level up
      else unionBalanced(dfs.grouped(8).map(unionBalanced).toSeq)
    if (perVersion.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L))
    else unionBalanced(perVersion)
  }

  /** Commit history as a DataFrame (`DESCRIBE HISTORY` analog): one row
    * per surviving version with file/byte/tombstone counts, the commit
    * record's filesystem mtime as `committed_at`, and rollback
    * attribution from the commit markers. ONE `_versions` listing and
    * one ascending walk of the commit log ([[DatasetMetadata.replay]],
    * one record read per version, one snapshot held at a time) — never
    * touches data. A version whose replay chain is severed fails the
    * call like [[DatasetMetadata.loadVersion]].
    */
  def history(spark: SparkSession, base: String, uuid: String): DataFrame = {
    import spark.implicits._
    val log = DatasetMetadata.listLog(spark, base, uuid)
    // per-commit metrics diff against the PREVIOUS RETAINED version (the
    // walk's previous step). The earliest retained version after a gc has
    // an unknown parent — its metrics report null rather than claiming
    // the whole content was added there.
    var prev: Option[(Long, DatasetMetadata)] = None
    val rows = DatasetMetadata.replay(spark, base, uuid, log.versions, log).map { case (v, md) =>
      val parentForMetrics: Option[DatasetMetadata] =
        if (v == 1L) Some(DatasetMetadata(uuid = uuid, schemaJson = md.schemaJson))
        else prev.collect { case (p, pmd) if p == v - 1 => pmd }
      val (fAdd, fDel, bAdd) = parentForMetrics match {
        case Some(p) =>
          val pL = Option(p.partitions).getOrElse(Map.empty[String, Long]).keySet
          val added = md.partitions.keysIterator.filterNot(pL.contains).toSeq
          (Some(added.size.toLong), Some((pL -- md.partitions.keySet).size.toLong),
            Some(added.map(md.sizeOf).sum))
        case None => (None, None, None)
      }
      prev = Some(v -> md)
      val rb = md.metadata.get(DatasetMetadata.RollbackCommitKey)
        .exists(_.toLong == v)
      // in-commit stamp (monotone, copy-stable) wins; record mtime is the
      // fallback for commits predating the stamp
      val at = md.metadata.get(DatasetMetadata.CommitTsKey).map(_.toLong)
        .orElse(log.mtimes.get(v)).map(new java.sql.Timestamp(_))
      // operation verb only when stamped BY this commit — inherited
      // copies carry an older commit number and display as null
      val op = md.metadata.get(DatasetMetadata.OperationKey).filter(_ =>
        md.metadata.get(DatasetMetadata.OperationCommitKey).exists(_.toLong == v))
      (v, at, op, md.partitions.size.toLong,
        // sizeOf, not values.sum: Jackson narrows the erased Map[String,
        // Long] to Integer on deserialization — summing would unbox-throw
        // on any version parsed from disk (fresh JVM, pre-cache history)
        md.partitions.keysIterator.map(md.sizeOf).sum,
        fAdd, fDel, bAdd, md.deleteFragments.size.toLong, rb,
        if (rb) md.metadata.get(DatasetMetadata.RollbackOfKey).map(_.toLong) else None)
    }.toList
    rows.toDF("version", "committed_at", "operation", "files", "bytes",
      "files_added", "files_removed", "bytes_added",
      "tombstone_fragments", "is_rollback", "rollback_of")
  }

  /** Latest commit version whose committed-at time (the in-commit stamp
    * when present, else the earliest record mtime — the same rule
    * [[history]] reports) is <= `atMillis` — the resolution rule behind
    * SQL `TIMESTAMP AS OF`. One `_versions` listing plus O(retained
    * versions) snapshot-cached metadata loads, no data reads. None when
    * the dataset has no commit at or before the instant.
    */
  def versionAtTimestamp(
      spark: SparkSession, base: String, uuid: String, atMillis: Long): Option[Long] = {
    val mtimes = DatasetMetadata.listLog(spark, base, uuid).mtimes
    val versions = mtimes.keys.toArray.sorted
    if (versions.isEmpty) return None
    def stampOpt(v: Long): Option[Long] =
      DatasetMetadata.loadVersion(spark, base, uuid, v)
        .metadata.get(DatasetMetadata.CommitTsKey).map(_.toLong)
    // head fast path: "now-ish" instants resolve with ONE load, and the
    // head is the latest version regardless of any ordering caveat below
    if (stampOpt(versions.last).getOrElse(mtimes(versions.last)) <= atMillis)
      return Some(versions.last)
    // In-commit stamps are strictly monotone along the version line (each
    // floors on its parent's) and stamped commits form a SUFFIX (every
    // commit since the feature stamps; copies preserve records verbatim) —
    // so the suffix BINARY-SEARCHES: O(log versions) loads on a long
    // retained history instead of a descending walk's O(versions) worst
    // case for old instants. Pre-stamp commits fall back to record
    // MTIMES, which a dataset copy REFRESHES (young mtimes, gc's keepFrom0
    // documents the same caveat) — non-monotone, so the prefix keeps the
    // legacy descending walk (legacy-only, bounded by the prefix).
    var lo = 0
    var hi = versions.length - 1
    var b = versions.length // lowest stamped index ("stamped" is suffix-closed)
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (stampOpt(versions(mid)).isDefined) { b = mid; hi = mid - 1 }
      else lo = mid + 1
    }
    if (b < versions.length) {
      var l = b
      var h = versions.length - 2 // head already ruled out
      var ans = -1
      while (l <= h) {
        val mid = (l + h) >>> 1
        if (stampOpt(versions(mid)).exists(_ <= atMillis)) { ans = mid; l = mid + 1 }
        else h = mid - 1
      }
      // a stamped match is a LATER version than any prefix match — done
      if (ans >= 0) return Some(versions(ans))
    }
    versions.slice(0, b).reverseIterator.find(v => mtimes(v) <= atMillis)
  }

  /** Versions in `(fromVersion, toVersion]` that were [[rollback]] commits,
    * as `(version, restoredToVersion)` — the change-feed consumer's
    * RE-SYNC signal: a rollback restores content the feed reports only as
    * removes, so a mirror that sees one must re-seed from a snapshot
    * (see [[mirrorChanges]]) instead of trusting the delta stream.
    */
  def rollbackVersions(
      spark: SparkSession, base: String, uuid: String,
      fromVersion: Long, toVersion: Long): Seq[(Long, Long)] =
    (fromVersion + 1 to toVersion).flatMap { v =>
      val md = DatasetMetadata.loadVersion(spark, base, uuid, v)
      // inherited markers carry an OLDER commit number — only a marker
      // equal to the version itself identifies an actual rollback commit
      md.metadata.get(DatasetMetadata.RollbackCommitKey)
        .filter(_.toLong == v)
        .map(_ => v -> md.metadata(DatasetMetadata.RollbackOfKey).toLong)
    }

  /** Maintain a downstream MIRROR dataset from an upstream's change feed —
    * the rate-limited incremental CDC poller: one call consumes at most
    * `maxVersionsPerPoll` upstream commits (checkpointed, at-least-once,
    * [[consumeChanges]] semantics) and applies them to the mirror as ONE
    * atomic [[mergeCdc]] commit. The range's changes collapse to the LAST
    * operation per key first (an update's delete+insert pair at the same
    * version resolves to the insert), so out-of-range history never
    * resurrects. A range containing a [[rollback]] commit re-seeds the
    * mirror from the upstream snapshot instead — the feed's removes-only
    * view of a rollback cannot reconstruct restored content. A missing
    * mirror bootstraps from the first batch (feed-from-0 emits the full
    * upstream content as inserts). Assumes upstream keys are unique (the
    * CDC-mirror contract, like mergeCdc). Returns versions consumed; loop
    * until 0 to drain.
    */
  def mirrorChanges(
      spark: SparkSession,
      srcBase: String,
      srcUuid: String,
      dstBase: String,
      dstUuid: String,
      keys: Seq[String],
      checkpointPath: String,
      maxVersionsPerPoll: Int = 100,
      maxCollectKeys: Int = 10000): Long = {
    require(keys.nonEmpty, "mirrorChanges requires at least one key column")
    consumeChanges(spark, srcBase, srcUuid, checkpointPath, maxVersionsPerPoll) {
      (changes, from, to) =>
        if (rollbackVersions(spark, srcBase, srcUuid, from, to).nonEmpty) {
          val snap = readTableAsOf(spark, srcBase, srcUuid, to)
          if (!DatasetMetadata.exists(spark, dstBase, dstUuid))
            store(spark, dstBase, dstUuid, snap)
          else
            // bounded re-seed: write only the snapshot-vs-mirror DIFF as
            // one merge commit — the mirror's version line survives the
            // recovery, and write amplification is O(diff) not O(table)
            reseedFromSnapshot(spark, dstBase, dstUuid, snap, keys,
              maxCollectKeys = maxCollectKeys)
        } else {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(keys.map(c => col(s"`$c`")): _*)
            .orderBy(col("_commit_version").desc,
              when(col("_change_type") === "insert", 0).otherwise(1))
          val collapsed = changes
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1)
            .drop("__rn", "_commit_version")
          if (!DatasetMetadata.exists(spark, dstBase, dstUuid))
            store(spark, dstBase, dstUuid,
              collapsed.filter(col("_change_type") === "insert").drop("_change_type"))
          else
            mergeCdc(spark, dstBase, dstUuid, collapsed, keys,
              opCol = "_change_type", deleteOp = "delete",
              maxCollectKeys = maxCollectKeys, evolveSchema = true)
        }
    }
  }

  /** Re-seed a keyed MIRROR from an upstream snapshot with a BOUNDED
    * write: full-outer-join the snapshot against the mirror's current
    * content on `keys`, keep only rows that actually differ, and apply
    * them as ONE [[mergeCdc]] commit — upserts for new/changed keys,
    * tombstones for keys gone upstream. Read cost is one scan of each
    * side (the same as a full overwrite); WRITE cost drops from O(table)
    * to O(diff), and the mirror's own commit history survives — a
    * rollback recovery no longer physically clobbers the mirror's
    * version line. Schema drift in either direction is handled by
    * aligning both sides to the UNION schema (missing columns read as
    * null, so a row differing only in a one-sided column still upserts);
    * the merge commit evolves the mirror's schema additively when the
    * snapshot carries new columns. Assumes upstream keys are unique
    * (the CDC-mirror contract, like [[mergeCdc]]).
    */
  def reseedFromSnapshot(
      spark: SparkSession,
      dstBase: String,
      dstUuid: String,
      snapshot: DataFrame,
      keys: Seq[String],
      maxCollectKeys: Int = 10000): (DatasetMetadata, Long) = {
    require(keys.nonEmpty, "reseedFromSnapshot requires at least one key column")
    keys.foreach(k => require(snapshot.columns.contains(k),
      s"key column '$k' missing from the snapshot"))
    val cur = readTable(spark, dstBase, dstUuid)
    keys.foreach(k => require(cur.columns.contains(k),
      s"key column '$k' missing from the mirror"))
    // union schema, snapshot's field order first — either side may lag the
    // other (a rollback can restore a PRE-evolution upstream schema while
    // the mirror already evolved)
    val unionFields = snapshot.schema.fields ++
      cur.schema.fields.filterNot(f => snapshot.columns.contains(f.name))
    def align(df: DataFrame): DataFrame = df.select(unionFields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(s"`${f.name}`").as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    // presence markers instead of key-null tests: full-outer rows from one
    // side only are detected without assuming keys are never null
    val s = align(snapshot).withColumn("__s", lit(1)).as("s")
    val d = align(cur).withColumn("__d", lit(1)).as("d")
    val keyCond = keys.map(k => col(s"s.`$k`") <=> col(s"d.`$k`")).reduce(_ && _)
    val joined = s.join(d, keyCond, "full_outer")
    val payload = unionFields.map(_.name).filterNot(keys.contains)
    val changed = payload
      .map(c => !(col(s"s.`$c`") <=> col(s"d.`$c`")))
      .foldLeft(lit(false))(_ || _)
    val upserts = joined
      .filter(col("s.__s").isNotNull && (col("d.__d").isNull || changed))
      .select(unionFields.toSeq.map(f => col(s"s.`${f.name}`").as(f.name)) :+
        lit("insert").as("_change_type"): _*)
    val deletes = joined
      .filter(col("s.__s").isNull)
      .select(unionFields.toSeq.map { f =>
        if (keys.contains(f.name)) col(s"d.`${f.name}`").as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ lit("delete").as("_change_type"): _*)
    mergeCdc(spark, dstBase, dstUuid, upserts.unionByName(deletes), keys,
      opCol = "_change_type", deleteOp = "delete",
      maxCollectKeys = maxCollectKeys, evolveSchema = true)
  }

  /** Partition-scope filter of the maintenance rewrites (`compact`,
    * `materializeDeletes`, `clusterZOrder`) and of delete scopes: a
    * condition over partition keys only. A label is in scope exactly when
    * `filter(scope.toColumn)` keeps its rows: its path values are cast to
    * the keys' types, as the scan types them, and the condition is decided
    * by [[Sidecars.rowFilter]] (`p < "3"` over int partitions keeps 0, not
    * 25).
    */
  private def partitionScope(spark: SparkSession,
      md: DatasetMetadata, scope: Predicates, op: String): String => Boolean =
    if (scope.isEmpty) _ => true
    else {
      scope.columns.foreach(c => require(md.partitionKeys.contains(c),
        s"$op column '$c' must be a partition key"))
      val keys = StructType(md.partitionKeys.map(md.schema(_)))
      val inScope = Sidecars.rowFilter(spark, keys, scope.toColumn)
      val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
      l => {
        val values = md.partitionValues(l)
        inScope(InternalRow.fromSeq(keys.map(f =>
          Cast(Literal(values(f.name)), f.dataType, tz).eval())))
      }
    }

  /** Apply one CDC batch (Debezium-style row images with an operation
    * column): rows where `opCol` = `deleteOp` tombstone their keys (a
    * delete of an absent key is a no-op), every other row upserts — ONE
    * atomic merge-on-read commit, zero rewrites ([[merge]] mechanics).
    * With [[graft.streaming.KtkSink.upsertStream]] feeding batches this
    * maintains a queryable mirror of a source table under
    * insert/update/delete traffic.
    */
  def mergeCdc(
      spark: SparkSession,
      base: String,
      uuid: String,
      batch: DataFrame,
      keys: Seq[String],
      opCol: String,
      deleteOp: String = "D",
      maxCollectKeys: Int = 10000,
      extraMetadata: Map[String, String] = Map.empty,
      evolveSchema: Boolean = false): (DatasetMetadata, Long) = {
    require(batch.columns.contains(opCol), s"CDC batch lacks op column '$opCol'")
    // Null-safe op split: `=== / =!=` are both null-rejecting, so a
    // malformed NULL-op row would silently vanish from BOTH sides. Route
    // NULL (and any non-delete marker) to the upsert side instead.
    val dels = batch.filter(col(s"`$opCol`") <=> deleteOp)
      .select(keys.map(c => col(s"`$c`")): _*)
    val ups = batch.filter(!(col(s"`$opCol`") <=> deleteOp)).drop(opCol)
    merge(spark, base, uuid, ups, keys, maxCollectKeys, extraMetadata,
      Some(dels), evolveSchema)
  }

  /** Physically drop deleted rows: rewrite exactly the files the deletion
    * vectors touch (per commit-seq groups, like [[compact]] — overlay
    * order survives), clear the fragment list, publish one atomic commit.
    * The rewrite is O(dirty files), not O(dataset); [[compact]] and
    * [[clusterZOrder]] also fold deletes into any rewrite they were doing
    * anyway, so routine maintenance sheds tombstones for free.
    */
  def materializeDeletes(
      spark: SparkSession,
      base: String,
      uuid: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      scope: Predicates = Predicates.empty): DatasetMetadata = {
    val md = DatasetMetadata.load(spark, base, uuid)
    if (md.deleteFragments.isEmpty) return md
    // optional partition scope: fold tombstones only for matching
    // partitions' files — fragments covering out-of-scope files survive
    val inScope = partitionScope(spark, md, scope, "materialize scope")
    val labels = DeleteVectors.labels(spark, base, md)
    val dirtyAll = labels.intersect(md.partitions.keySet)
    // with no live dirty file the fragments name only files earlier
    // commits removed: handed in as `removed`, those labels make the one
    // deletion-vector rule drop every fragment, and nothing is rewritten
    val dirty = if (dirtyAll.isEmpty) labels else dirtyAll.filter(inScope)
    if (dirty.isEmpty) return md // nothing in scope; out-of-scope vectors stay
    val (added, seqs) = rewriteGroupsStaged(spark, base, md,
      (dirty & dirtyAll).toSeq.sorted.groupBy(md.seqOf))(sizedLayout(md, targetFileBytes))
    commitSnapshot(spark, base, md, added, dirty, SeqRule.Rewrite(seqs), "MATERIALIZE DELETES")
  }

  /** Additive schema evolution WITHOUT data — register new nullable
    * columns in ONE metadata-only commit (the engine behind SQL
    * `ALTER TABLE ... ADD COLUMNS`). Existing files simply lack the
    * columns and read as null, exactly like `update(evolveSchema = true)`;
    * no data file is touched, so the commit is O(metadata) at any table
    * size. Columns must be new and are forced nullable (a required column
    * could never be satisfied by the existing files).
    */
  def addColumns(
      spark: SparkSession,
      base: String,
      uuid: String,
      newFields: Seq[StructField]): DatasetMetadata = {
    require(newFields.nonEmpty, "addColumns requires at least one column")
    val md = DatasetMetadata.load(spark, base, uuid)
    // duplicates WITHIN the call would commit a schema no reader accepts
    val dupes = newFields.groupBy(_.name.toLowerCase).collect {
      case (_, fs) if fs.size > 1 => fs.head.name
    }
    require(dupes.isEmpty, s"duplicate new column name(s): ${dupes.mkString(", ")}")
    newFields.foreach { f =>
      require(!md.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"column '${f.name}' already exists")
    }
    // run through the SAME normalization as every write path (type
    // promotion + partition-keys-first / payload-alphabetical order) so a
    // later update's validateCompatible sees identical shapes
    val evolved = SchemaUtil.normalizeSchema(
      StructType(md.schema.fields ++ newFields.map(_.copy(nullable = true))),
      md.partitionKeys)
    DatasetMetadata.store(spark, base, md.copy(schemaJson = evolved.json),
      parentMd = Some(md), operation = "ADD COLUMNS")
  }

  /** Update USER table properties in ONE metadata-only commit (the engine
    * behind SQL `ALTER TABLE ... SET/UNSET TBLPROPERTIES`). The `graft.`
    * namespace is reserved for engine state (sort order, sequence
    * watermark, constraints, rollback markers) and refused in both
    * directions — constraints have their own add/drop surface.
    */
  def setTableProperties(
      spark: SparkSession,
      base: String,
      uuid: String,
      set: Map[String, String] = Map.empty,
      unset: Seq[String] = Nil): DatasetMetadata = {
    require(set.nonEmpty || unset.nonEmpty, "nothing to change")
    (set.keys ++ unset).foreach(k => require(!k.startsWith("graft."),
      s"property '$k' is in the reserved engine namespace 'graft.'"))
    val md = DatasetMetadata.load(spark, base, uuid)
    DatasetMetadata.store(spark, base,
      md.copy(metadata = md.metadata -- unset ++ set), parentMd = Some(md),
      operation = "SET TBLPROPERTIES")
  }

  // ----------------------------------------------------------- commit step

  /** Next commit sequence number: strictly greater than every seq EVER
    * assigned (high watermark), not merely than the currently referenced
    * ones — a delete scope that removes the newest labels must not let a
    * later append reuse their seq (overlay order and the change feed's
    * rewrite detection both key on monotonicity).
    */
  private def nextMonotoneSeq(md: DatasetMetadata): Long = {
    val hwm = md.metadata.get(DatasetMetadata.SeqHwmKey).map(_.toLong).getOrElse(0L)
    math.max(hwm, (0L +: md.partitions.keys.toSeq.map(md.seqOf)).max) + 1L
  }

  /** How a commit's added labels get their sequence numbers. */
  private[ktk] sealed trait SeqRule
  private[ktk] object SeqRule {
    /** New content: every added label takes [[nextMonotoneSeq]], which the
      * commit records as the high watermark.
      */
    case object Append extends SeqRule
    /** A rewrite of existing content: each added label inherits the seq of
      * the group it replaced, so overlay keep-last order survives and the
      * change feed sees no new rows.
      */
    final case class Rewrite(seqOf: Map[String, Long]) extends SeqRule
  }

  /** The one commit step of every data writer: the snapshot that follows
    * `parent` once `added` (label → size) land and `removed` labels leave.
    * Survivors keep their size and seq, added labels take theirs from
    * `seq`; legacy inline zone maps migrate; every sidecar merges
    * ([[Sidecars.merge]]); the deletion vectors follow [[deletesAfter]]
    * with the writer's `fresh` fragment; `metadata` lays over the
    * parent's; one versioned store publishes it all. `schema` derives the
    * committed schema from the parent the commit lands on.
    *
    * A writer that re-shapes the snapshot hands in the re-shaped parent:
    * [[clusterZOrder]] one with its zone columns registered,
    * [[replaceTable]] one re-laid with no sidecars and its own keys and
    * properties.
    *
    * `blindAppend`: the added files read nothing of the parent (Delta's
    * AddFile-only commit), so a lost version race re-commits the SAME
    * files on the reloaded parent — no batch rewrite, no orphan. The
    * retries are bounded ([[appendCommitRetries]]); a concurrent change of
    * partition keys (the files' directory layout) or of CHECK constraints
    * (never checked against this batch), or the final lost race, surfaces
    * as ConcurrentCommitException for the caller's [[withCommitRetries]],
    * which re-runs the writer wholesale.
    */
  private[ktk] def commitSnapshot(
      spark: SparkSession,
      base: String,
      parent: DatasetMetadata,
      added: Map[String, Long],
      removed: Set[String],
      seq: SeqRule,
      operation: String,
      fresh: Option[String] = None,
      schema: DatasetMetadata => StructType = _.schema,
      metadata: Map[String, String] = Map.empty,
      blindAppend: Boolean = false): DatasetMetadata = {
    def attempt(p0: DatasetMetadata): DatasetMetadata = {
      val p = Sidecars.migrateInlineZones(spark, base, p0)
      val partitions =
        p.partitions.keys.filterNot(removed).map(l => l -> p.sizeOf(l)).toMap ++ added
      val (seqOf, hwm) = seq match {
        case SeqRule.Append =>
          val next = nextMonotoneSeq(p)
          ((_: String) => next, Map(DatasetMetadata.SeqHwmKey -> next.toString))
        case SeqRule.Rewrite(seqs) => (seqs, Map.empty[String, String])
      }
      // the batch's sidecar rows append as one more fragment — O(batch) —
      // unless a removed label or a full dir makes the commit fold
      val merged = Sidecars.merge(spark, base, p,
        p.copy(partitions = partitions, schemaJson = schema(p).json), added.keySet)
      val md = merged.copy(
        partitionSeq = partitions.keys.map(l =>
          l -> (if (added.contains(l)) seqOf(l) else p.seqOf(l))).toMap,
        deletes = deletesAfter(spark, base, p, partitions.keySet, removed, fresh),
        metadata = p.metadata ++ metadata ++ hwm)
      DatasetMetadata.store(spark, base, md, parentMd = Some(p), operation = operation)
    }
    if (!blindAppend) return attempt(parent)
    var p = parent
    var tries = 0
    while (true) {
      try return attempt(p)
      catch {
        case e: ConcurrentCommitException =>
          tries += 1
          if (tries > appendCommitRetries(spark)) throw e
          // FULL-JITTER backoff (uniform in [0, 25ms * tries]): N writers
          // that collide once must NOT reclaim in lockstep — a
          // deterministic sleep resynchronizes the losers and burns the
          // retry budget under fan-in
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(25L * tries + 1))
          val reloaded = DatasetMetadata.load(spark, base, parent.uuid)
          if (reloaded.partitionKeys != parent.partitionKeys ||
              constraints(reloaded) != constraints(parent)) throw e
          p = reloaded
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Write one batch as new files of the table at `tableDir` and return
    * their sizes by label, from the write job's own commit manifest
    * ([[ManifestCommitProtocol]]) — NO directory listing, so the dir's
    * unreferenced leftovers (compacted-away files awaiting gc, failed
    * writes) can never be resurrected into a commit, concurrent writers
    * never observe each other, and cost stays O(batch) at any historical
    * file count. `sortBy` sorts within each task after the partition keys
    * — see [[store]]: the dynamic-partition writer's own sort would
    * replace the order otherwise. A null partition value fails the write
    * (kartothek's partition_on null check; its files stay unreferenced for
    * [[garbageCollect]]).
    */
  private def writeBatch(spark: SparkSession, tableDir: String, partitionKeys: Seq[String],
      batch: DataFrame, sortBy: Seq[String] = Nil): Map[String, Long] = {
    val sorted =
      if (sortBy.isEmpty) batch
      else batch.sortWithinPartitions((partitionKeys ++ sortBy).map(c => col(s"`$c`")): _*)
    val files = ManifestCommitProtocol.collecting(spark) {
      val writer = sorted.write.mode(SaveMode.Append)
      (if (partitionKeys.nonEmpty) writer.partitionBy(partitionKeys: _*) else writer)
        .parquet(tableDir)
    }
    if (files.exists(_._1.contains("__HIVE_DEFAULT_PARTITION__")))
      throw new IllegalArgumentException("null values in partition columns are not allowed")
    files.toMap
  }

  /** The schema a batch `df` commits under, derived from the parent it
    * lands on, and checked against `md` at once — an incompatible batch
    * fails before any file is written. `evolve` (Delta mergeSchema
    * semantics) appends new columns as nullable: old files simply lack
    * them and the explicit-schema read fills nulls. Registered sidecar
    * columns must still arrive — their incremental merges scan the new
    * files for exactly those columns.
    */
  private def batchSchema(md: DatasetMetadata, df: DataFrame, evolve: Boolean,
      op: String): DatasetMetadata => StructType = {
    val cand = SchemaUtil.normalizeSchema(df.schema, md.partitionKeys)
    if (evolve) {
      val absent = Sidecars.columns(md).filterNot(cand.fieldNames.contains).toSeq.sorted
      require(absent.isEmpty,
        s"evolveSchema $op must still carry the registered index/bloom/zone " +
          s"column(s): ${absent.mkString(", ")}")
    }
    def on(p: DatasetMetadata): StructType =
      if (evolve) SchemaUtil.evolveSchemas(p.schema, cand)
      else { SchemaUtil.validateCompatible(p.schema, cand); p.schema }
    on(md)
    on
  }

  // ---------------------------------------------------------------- update

  /** Incremental update in ONE metadata commit (≙ update_dataset_from_dataframes,
    * io_components/update.py:23-57): append `newData` as new files, drop
    * partitions matched by `deleteScope` (a predicate over partition-key
    * columns), merge secondary indices incrementally, single blob put.
    * Existing partition files are immutable — deletion is logical first
    * (metadata), physical cleanup via [[garbageCollect]].
    */
  def update(
      spark: SparkSession,
      base: String,
      uuid: String,
      newData: Option[DataFrame],
      deleteScope: Predicates = Predicates.empty,
      sortBy: Seq[String] = Nil,
      extraMetadata: Map[String, String] = Map.empty,
      evolveSchema: Boolean = false,
      replaceAll: Boolean = false,
      requireAppendsInScope: Boolean = false,
      dynamicPartitionOverwrite: Boolean = false): DatasetMetadata = {

    val md = DatasetMetadata.load(spark, base, uuid)
    if (dynamicPartitionOverwrite) {
      require(!replaceAll && deleteScope.isEmpty,
        "dynamicPartitionOverwrite derives its own scope from the batch")
      require(newData.nonEmpty, "dynamicPartitionOverwrite requires new data")
    }
    // dynamic overwrite of an UNPARTITIONED dataset degenerates to a full
    // versioned replace — there is exactly one "partition" and the batch
    // rewrites it (the same rule every engine applies)
    val effReplaceAll = replaceAll ||
      (dynamicPartitionOverwrite && md.partitionKeys.isEmpty)
    val effDynamic = dynamicPartitionOverwrite && md.partitionKeys.nonEmpty

    // 1. which existing labels survive the delete scope? `replaceAll`
    //    (INSERT OVERWRITE semantics) drops every current reference in the
    //    SAME commit the new files land in — a versioned content swap, not
    //    a physical clobber: old files stay for time travel until gc.
    //    (dynamic partition overwrite defers this to AFTER the write: its
    //    scope is the partition set the batch actually lands in — ONE pass
    //    over the source, no pre-computed distinct.)
    lazy val inDeleteScope = partitionScope(spark, md, deleteScope, "delete_scope")
    val deleted: Set[String] =
      if (effDynamic) Set.empty
      else if (effReplaceAll) {
        require(deleteScope.isEmpty, "replaceAll and deleteScope are mutually exclusive")
        md.partitions.keySet
      } else if (deleteScope.isEmpty) Set.empty
      else md.partitions.keySet.filter(inDeleteScope)

    // 2. append new files; the schema check and CHECK constraints gate the
    //    batch BEFORE any file lands
    val schemaOn: DatasetMetadata => StructType =
      newData.fold((_: DatasetMetadata).schema)(batchSchema(md, _, evolveSchema, "update"))
    val added: Map[String, Long] = newData match {
      case None => Map.empty
      case Some(df) =>
        val normalized = SchemaUtil.normalize(df, md.partitionKeys)
        enforceConstraints(md, normalized)
        writeBatch(spark, md.tableDir(base), md.partitionKeys, normalized, sortBy)
    }
    // REPLACE WHERE contract: every appended row must fall INSIDE the
    // partitions being replaced, or out-of-scope rows would silently
    // duplicate surviving files' content. O(newLabels) label parsing —
    // the check fails BEFORE the metadata commit, so nothing publishes
    // (the orphan files are unreferenced; gc reclaims them).
    if (requireAppendsInScope && !deleteScope.isEmpty) {
      val outOfScope = added.keySet.filterNot(inDeleteScope)
      if (outOfScope.nonEmpty)
        throw new IllegalArgumentException(
          s"overwrite scope violation: ${outOfScope.size} appended file(s) land outside " +
            s"the replaced partitions (e.g. ${md.partitionValues(outOfScope.head)}); " +
            "the source rows must all match the REPLACE WHERE / PARTITION clause")
    }
    // dynamic partition overwrite: drop exactly the existing files whose
    // partition tuple the batch re-wrote (derived from the appended labels
    // — partition-count-sized, label parsing only, no extra job)
    val removed: Set[String] =
      if (!effDynamic) deleted
      else {
        val touched = added.keySet.map(md.partitionValues)
        md.partitions.keySet.filter(l => touched.contains(md.partitionValues(l)))
      }

    // 3. one commit. Only a pure append is blind: deletes / overwrites
    //    derive their scope FROM the parent, so a lost race re-runs them
    //    wholesale, never mechanically replayed.
    val sortMeta =
      if (sortBy.isEmpty) Map.empty[String, String]
      else Map(DatasetMetadata.SortByKey -> sortBy.mkString(","))
    commitSnapshot(spark, base, md, added, removed, SeqRule.Append,
      operation =
        if (effReplaceAll) "OVERWRITE"
        else if (newData.isEmpty) "DELETE SCOPE" else "WRITE",
      schema = schemaOn, metadata = extraMetadata ++ sortMeta,
      blindAppend = !effReplaceAll && !effDynamic && deleteScope.isEmpty && newData.nonEmpty)
  }

  /** Fast-retry bound for lost pure-append commit races ([[commitSnapshot]]'s
    * metadata-only re-commit loop), `spark.graft.append.commitRetries`
    * (default 8). Kept separate from the caller-level
    * [[withCommitRetries]] budget: the fast path is cheap (no data
    * rewrite), so it can afford more attempts than a full re-run. Raise
    * it for high-fan-in multi-writer tables; 0 disables the fast path
    * (every lost race surfaces to the caller).
    */
  private def appendCommitRetries(spark: SparkSession): Int = {
    val key = "spark.graft.append.commitRetries"
    spark.conf.getOption(key).map { s =>
      val n =
        try s.trim.toInt
        catch {
          case e: NumberFormatException =>
            throw new IllegalArgumentException(
              s"invalid $key='$s': must be a non-negative retry count", e)
        }
      if (n < 0) throw new IllegalArgumentException(
        s"invalid $key=$n: must be a non-negative retry count")
      n
    }.getOrElse(8)
  }

  /** REPLACE TABLE AS SELECT: swap a dataset's entire content, SCHEMA and
    * partition layout in ONE versioned commit on the SAME version line —
    * unlike `store(overwrite = true)` (which physically clobbers the
    * `_versions` log) the previous snapshots stay travelable and gc
    * reclaims the unreferenced files later. Because the schema is replaced
    * wholesale, registered sidecars (indices/blooms/zones), pending
    * deletion vectors, CHECK constraints, the recorded sort order and the
    * previous user properties are all dropped with it — they describe
    * columns that may no longer exist. Old snapshots keep their OWN
    * schema/partition keys (each version record carries them).
    */
  def replaceTable(
      spark: SparkSession,
      base: String,
      uuid: String,
      df: DataFrame,
      partitionOn: Seq[String] = Nil,
      userMetadata: Map[String, String] = Map.empty): DatasetMetadata = {
    val md = DatasetMetadata.load(spark, base, uuid)
    partitionOn.foreach(c => require(df.columns.contains(c),
      s"partition_on column '$c' missing"))
    val added = writeBatch(spark, md.tableDir(base), partitionOn,
      SchemaUtil.normalize(df, partitionOn))
    // the parent re-laid: no sidecars, the new keys, the caller's
    // properties over the engine's version, timestamp and seq watermark.
    // Every label leaves, and their deletion vectors with them.
    val engineKeys = Set(DatasetMetadata.VersionKey, DatasetMetadata.CommitTsKey,
      DatasetMetadata.SeqHwmKey)
    val relaid = Sidecars.without(md).copy(partitionKeys = partitionOn,
      metadata = userMetadata ++ md.metadata.filter { case (k, _) => engineKeys(k) })
    commitSnapshot(spark, base, relaid, added, md.partitions.keySet, SeqRule.Append,
      "REPLACE TABLE", schema = _ => SchemaUtil.normalizeSchema(df.schema, partitionOn))
  }

  /** Small-file compaction: rewrite undersized data files into
    * ~`targetFileBytes` files and publish ONE atomic metadata commit; the
    * replaced files become unreferenced (a later [[garbageCollect]] removes
    * them), so concurrent readers keep a consistent view throughout.
    *
    * Victims are grouped by commit sequence and rewritten one job per seq,
    * with new labels inheriting that seq — overlay keep-last semantics
    * (which dedup by `partitionSeq`) are preserved exactly; files from
    * different commits are never merged. At 100 TB this is the routine
    * maintenance op that keeps scan task counts sane after many
    * small incremental [[update]]s / streaming batches.
    */
  def compact(
      spark: SparkSession,
      base: String,
      uuid: String,
      smallFileBytes: Long = 32L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      extraMetadata: Map[String, String] = Map.empty,
      scope: Predicates = Predicates.empty): DatasetMetadata = {

    val md = DatasetMetadata.load(spark, base, uuid)
    def dirOf(label: String): String = {
      val i = label.lastIndexOf('/')
      if (i < 0) "" else label.substring(0, i)
    }
    // optional partition scope (OPTIMIZE ... WHERE over partition keys): at
    // large scale maintenance targets the HOT partitions, not the table —
    // out-of-scope files are untouchable, label parsing only
    val inScope = partitionScope(spark, md, scope, "compact scope")
    // compaction victims: small files sharing (partition dir, commit seq)
    // with at least one other small file — singletons gain nothing.
    // Sizes come from the catalog (sizeOf widens Jackson's narrowed
    // integrals) — no listing of the table dir.
    val victimsBySeq: Map[Long, Seq[String]] = md.partitions.keys.toSeq
      .filter(inScope)
      .map(l => l -> md.sizeOf(l))
      .filter(_._2 < smallFileBytes)
      .groupBy { case (l, _) => (dirOf(l), md.seqOf(l)) }
      .filter(_._2.size >= 2)
      .toSeq.flatMap { case ((_, seq), fs) => fs.map { case (l, _) => seq -> l } }
      .groupBy(_._1).map { case (s, ls) => s -> ls.map(_._2).sorted }
    val victims = victimsBySeq.values.flatten.toSet
    // nothing to rewrite: callers piggybacking metadata on the compaction
    // commit (e.g. the streaming sink's maintenance counter) still need it
    // persisted
    if (victims.isEmpty && extraMetadata.isEmpty) return md
    // survivors keep their catalog sizes; moved files carry the size
    // captured during the staging walk — no table-dir relisting
    val (added, seqs) =
      rewriteGroupsStaged(spark, base, md, victimsBySeq)(sizedLayout(md, targetFileBytes))
    commitSnapshot(spark, base, md, added, victims, SeqRule.Rewrite(seqs), "COMPACT",
      metadata = extraMetadata)
  }

  /** The rewrite layout of [[compact]] and [[materializeDeletes]]: files of
    * ~`targetFileBytes`, hash-partitioned on the partition keys and sorted
    * on the recorded sort layout, so merged files keep tight row-group
    * stats and zone-map ranges.
    */
  private def sizedLayout(md: DatasetMetadata, targetFileBytes: Long)(
      data: DataFrame, labels: Seq[String]): DataFrame = {
    val totalBytes = labels.map(md.sizeOf).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val shaped =
      if (md.partitionKeys.nonEmpty)
        data.repartition(nOut, md.partitionKeys.map(c => col(s"`$c`")): _*)
      else data.repartition(nOut)
    val sortCols = recordedSortCols(md)
    if (sortCols.isEmpty) shaped else shaped.sortWithinPartitions(sortCols: _*)
  }

  /** Sort columns recorded at write time (`graft.sort_by`), restricted to
    * columns still in the schema (additive evolution can't remove one, but
    * be defensive) — maintenance rewrites re-apply them.
    */
  private def recordedSortCols(md: DatasetMetadata): Seq[org.apache.spark.sql.Column] = {
    val cols = md.metadata.get(DatasetMetadata.SortByKey).toSeq
      .flatMap(_.split(",").toSeq).filter(md.schema.fieldNames.contains)
    // partition columns first — see store(): otherwise the dynamic-
    // partition writer re-sorts on them alone and discards the rest
    if (cols.isEmpty) Nil
    else (md.partitionKeys ++ cols).map(c => col(s"`$c`"))
  }

  /** Shared staged-rewrite machinery of [[compact]], [[materializeDeletes]]
    * and [[clusterZOrder]].
    *
    * Per-seq groups rewrite CONCURRENTLY, each into its own staging dir
    * under the dataset root (dot-prefixed: invisible to listings and
    * readers), then files move into the table dir as pure metadata
    * renames — wall-time is max-over-groups, not sum-over-groups (after a
    * long streaming run there is one group per micro-batch commit).
    *
    * The NONCE-named staging root keeps two racing maintenance ops from
    * deleting each other's in-flight staging; the loser of the final
    * commit CAS leaves only unreferenced table-dir files that
    * [[garbageCollect]] reclaims. Crash leftovers are reaped here too, but
    * only when STALE — staleness keys on a HEARTBEAT FILE inside each
    * staging root (touched per rewrite group), never the directory mtime:
    * per-seq subdirectory writes don't refresh the root's mtime on HDFS,
    * and object stores report unreliable/zero directory mtimes — keying
    * on those could reap a LIVE concurrent (or merely >1h) op's staging
    * mid-run. File mtimes are reliable everywhere.
    *
    * `shape(groupData, groupLabels)` decides the rewrite layout (sized
    * hash repartition for compact and materializeDeletes, z-rank range
    * repartition for clusterZOrder). Returns the moved files' sizes, as
    * captured during the staging walk so no table-dir relisting is ever
    * needed, and the seq each inherits from its group.
    */
  private def rewriteGroupsStaged(
      spark: SparkSession,
      base: String,
      md: DatasetMetadata,
      victimsBySeq: Map[Long, Seq[String]])(
      shape: (DataFrame, Seq[String]) => DataFrame): (Map[String, Long], Map[String, Long]) = {
    if (victimsBySeq.isEmpty) return (Map.empty, Map.empty)
    val tableDir = md.tableDir(base)
    val fsys = DatasetMetadata.fs(spark, base)
    // rewrites MATERIALIZE row-level deletes: groups holding a
    // deletion-vector-touched file anti-join the vectors before reshaping,
    // so deleted rows never travel into the rewritten files (resurrection
    // would corrupt the dataset — the caller drops the labels from the
    // fragment list). Clean groups pay nothing.
    val dvDirty: Set[String] = DeleteVectors.labels(spark, base, md)
    def applyDeletes(raw: DataFrame, labels: Seq[String]): DataFrame =
      if (!labels.exists(dvDirty.contains)) raw
      else DeleteVectors.dropDeleted(spark, base, md, labels.toSet,
          raw.withColumn("__label", labelCol(spark, tableDir))
            .withColumn("__pos", col("_metadata.row_index")))
        .drop("__label", "__pos")
    val stagingRoot = new Path(s"$base/${md.uuid}/" +
      s".compacting-${java.util.UUID.randomUUID.toString.take(8)}")
    val dsRoot = new Path(s"$base/${md.uuid}")
    val staleAfterMs = 60L * 60 * 1000
    if (fsys.exists(dsRoot)) fsys.listStatus(dsRoot).foreach { st =>
      if (st.getPath.getName.startsWith(".compacting")) {
        val lastAlive =
          try fsys.getFileStatus(new Path(st.getPath, CompactHeartbeat)).getModificationTime
          catch { case _: java.io.FileNotFoundException =>
            // pre-heartbeat leftover (or a racer's ms-wide creation
            // window): the directory mtime is the only signal left
            st.getModificationTime }
        if (lastAlive < System.currentTimeMillis() - staleAfterMs) {
          fsys.delete(st.getPath, true); ()
        }
      }
    }
    fsys.mkdirs(stagingRoot)
    val heartbeat = new Path(stagingRoot, CompactHeartbeat)
    fsys.create(heartbeat, true).close()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, victimsBySeq.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val moved = try Await.result(Future.sequence(victimsBySeq.toSeq.sortBy(_._1).map {
      case (seq, labels) => Future {
        // liveness signal for foreign ops' stale-staging checks
        try fsys.setTimes(heartbeat, System.currentTimeMillis(), -1)
        catch { case _: java.io.IOException => () }
        val staging = s"$stagingRoot/$seq"
        val data = applyDeletes(SnapshotScan(spark, base, md, labels), labels)
        val rewritten = shape(data, labels)
        val writer = rewritten.write.mode(SaveMode.Overwrite)
        (if (md.partitionKeys.nonEmpty) writer.partitionBy(md.partitionKeys: _*) else writer)
          .parquet(staging)
        val stPath = fsys.makeQualified(new Path(staging))
        val prefix = stPath.toString + "/"
        val moved = Seq.newBuilder[(String, Long)]
        walkFiles(fsys, stPath) { st =>
          val name = st.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) {
            val rel = st.getPath.toString.stripPrefix(prefix)
            val dest = new Path(s"$tableDir/$rel")
            // FileSystem.rename/mkdirs signal failure by returning false,
            // not throwing. A swallowed false here would let the finally
            // block delete the staging dir holding the only copy of the
            // rewritten rows while metadata still commits the move.
            if (!fsys.mkdirs(dest.getParent))
              throw new java.io.IOException(
                s"staged rewrite: mkdirs failed for ${dest.getParent}")
            if (!fsys.rename(st.getPath, dest))
              throw new java.io.IOException(
                s"staged rewrite: rename ${st.getPath} -> $dest failed")
            moved += (rel -> st.getLen)
          }
        }
        seq -> moved.result()
      }
    }), Duration.Inf)
    finally { pool.shutdown(); fsys.delete(stagingRoot, true); () }
    (moved.flatMap(_._2).toMap, moved.flatMap { case (seq, fs) => fs.map(_._1 -> seq) }.toMap)
  }

  /** Z-ORDER layout rewrite — the Delta/Iceberg `OPTIMIZE ZORDER BY`
    * technique applied to graft's zone-map sidecars. Files are rewritten
    * so each holds a tight range of the Morton code over quantile-bucketed
    * `columns` values ([[graft.core.ZOrder]]): tight in EVERY clustered
    * dimension at once, so zone pruning skips files on a predicate over
    * ANY clustered column — a plain `sortBy` gives that only for the
    * leading column. No reference analog (its layout control stops at
    * partition_on + sort_partitions_by, io_components/write.py:82-83).
    *
    * Mechanics: ONE `approxQuantile` pass fixes global per-column bucket
    * boundaries; the rank is pure codegen'd Column arithmetic
    * ([[graft.core.ZOrder.rankColumn]], no UDF); each commit-seq group is
    * range-repartitioned + sorted on (partitionKeys, rank) and rewritten
    * through the shared staged-rename path — like [[compact]], files from
    * different commits are never merged, so overlay keep-last semantics
    * survive (a bulk-loaded dataset is one group = full clustering). Zone
    * sidecars for `columns` are (re)built and registered, everything
    * publishes as ONE atomic metadata commit, and the replaced files
    * become unreferenced for [[garbageCollect]].
    */
  def clusterZOrder(
      spark: SparkSession,
      base: String,
      uuid: String,
      columns: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      scope: Predicates = Predicates.empty): DatasetMetadata = {
    val md = DatasetMetadata.load(spark, base, uuid)
    require(columns.nonEmpty && columns.size <= 8,
      s"z-order takes 1..8 columns, got ${columns.size}")
    val schema = md.schema
    columns.foreach { c =>
      require(schema.fieldNames.contains(c), s"z-order column '$c' not in schema")
      require(!md.partitionKeys.contains(c),
        s"z-order column '$c' is a partition key — directory layout already prunes it")
      val dt = schema(c).dataType
      require(dt.isInstanceOf[NumericType] || dt == DateType || dt == TimestampType,
        s"z-order column '$c' must be numeric/date/timestamp, got $dt")
    }
    if (md.partitions.isEmpty) return md
    // optional partition scope (OPTIMIZE ZORDER ... WHERE): rewrite only
    // the matching partitions' files; quantile boundaries are computed
    // over the scoped set (zone pruning is per-file min/max, so scoped
    // boundaries only affect balance within the rewritten files)
    val inScope = partitionScope(spark, md, scope, "z-order scope")
    val allLabels = md.partitions.keys.toSeq.filter(inScope).sorted
    if (allLabels.isEmpty) return md
    val untouched = md.partitions.keys.toSeq.filterNot(inScope).sorted
    def asDouble(c: String): org.apache.spark.sql.Column = schema(c).dataType match {
      case DateType      => unix_date(col(s"`$c`")).cast("double")
      case TimestampType => unix_micros(col(s"`$c`")).cast("double")
      case _             => col(s"`$c`").cast("double")
    }
    // one global quantile pass fixes the bucket boundaries — groups must
    // agree on them or ranges would only be tight within a group
    val probe = SnapshotScan(spark, base, md, allLabels)
      .select(columns.zipWithIndex.map { case (c, i) => asDouble(c).as(s"__z$i") }: _*)
    val probs = (1 until graft.core.ZOrder.Buckets)
      .map(_.toDouble / graft.core.ZOrder.Buckets).toArray
    val boundaries = probe.stat.approxQuantile(
      columns.indices.map(i => s"__z$i").toArray, probs, 0.001)

    val bySeq: Map[Long, Seq[String]] =
      allLabels.groupBy(md.seqOf).map { case (s, ls) => s -> ls.sorted }
    val zc = "__graft_zrank"
    val (added, seqs) = rewriteGroupsStaged(spark, base, md, bySeq) { (data, labels) =>
      val totalBytes = labels.map(md.sizeOf).sum
      val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
      val ranked = data.withColumn(zc,
        graft.core.ZOrder.rankColumn(columns.map(asDouble), boundaries))
      val parts = md.partitionKeys.map(c => col(s"`$c`")) :+ col(zc)
      // range partition AND sort within files on the rank: file-level
      // ranges are tight (zone pruning) and row groups inside follow
      ranked.repartitionByRange(nOut, parts: _*)
        .sortWithinPartitions(parts: _*)
        .drop(zc)
    }

    // zone maps over the clustered columns are the POINT of the layout —
    // register any that are missing; the commit merges sidecars over the
    // new files (out-of-scope files survive with their existing entries).
    // Under a SCOPE, a brand-new zone column may only register if the
    // rewrite covers every file: zone pruning treats the sidecar as
    // TOTAL coverage, so a partial sidecar would silently drop every
    // out-of-scope file from predicate reads. Already-registered columns
    // (legacy inline ones included) merge incrementally.
    val registrable = if (untouched.isEmpty) columns.filterNot(md.zoneColumns) else Nil
    val withZones = Sidecars.Zone.withRegistry(md,
      Sidecars.Zone.registry(md) ++ registrable.map(c => c -> newSidecarName(c)))
    commitSnapshot(spark, base, withZones, added, allLabels.toSet, SeqRule.Rewrite(seqs), "ZORDER")
  }

  // ------------------------------------------------------- two-phase write

  /** Phase 1 of the external-committer workflow (≙
    * create_empty_dataset_header, io/eager.py:642-714): commit a dataset
    * header — schema, partition keys, index registry — with NO partitions.
    * N independent jobs can then [[writePartition]] against it and a single
    * coordinator [[commit]]s once.
    */
  def createEmpty(
      spark: SparkSession,
      base: String,
      uuid: String,
      schema: StructType,
      partitionOn: Seq[String] = Nil,
      secondaryIndices: Seq[String] = Nil,
      overwrite: Boolean = false,
      userMetadata: Map[String, String] = Map.empty,
      zoneMapFor: Seq[String] = Nil,
      bloomFor: Seq[String] = Nil): DatasetMetadata = {
    if (!overwrite && DatasetMetadata.exists(spark, base, uuid))
      throw new IllegalStateException(s"Dataset '$uuid' already exists (pass overwrite=true)")
    if (overwrite) {
      // clear stale data files too, matching store(overwrite) — otherwise
      // a later writePartition would append beside invisible leftovers.
      // This deletes `_versions` and RESTARTS the version line at v1, so
      // any cached snapshots of the old line are poison — invalidate.
      DatasetMetadata.fs(spark, base).delete(new Path(s"$base/$uuid"), true)
      DatasetMetadata.invalidateCache(base, uuid)
    }
    partitionOn.foreach(c => require(schema.fieldNames.contains(c), s"partition_on column '$c' missing"))
    val normalized = SchemaUtil.normalizeSchema(schema, partitionOn)
    // with no labels yet the sidecars are only registered; [[commit]]
    // builds them as partitions publish
    val md = Sidecars.build(spark, base,
      DatasetMetadata(uuid = uuid, partitionKeys = partitionOn,
        schemaJson = normalized.json, metadata = userMetadata),
      Sidecars.wanted(secondaryIndices, bloomFor, zoneMapFor))
    DatasetMetadata.store(spark, base, md, operation = "CREATE EMPTY")
  }

  /** Phase 2 (≙ write_single_partition, io/eager.py:717-773): write one
    * batch of files into the dataset directory WITHOUT touching the
    * metadata blob — invisible to readers until [[commit]]. Returns the new
    * labels to hand to the committer. Safe to run from many jobs
    * concurrently: file names are unique per write, and only [[commit]]
    * mutates metadata.
    */
  def writePartition(
      spark: SparkSession,
      base: String,
      uuid: String,
      df: DataFrame,
      sortBy: Seq[String] = Nil): Seq[String] = {
    val md = DatasetMetadata.load(spark, base, uuid)
    SchemaUtil.validateCompatible(md.schema, SchemaUtil.normalizeSchema(df.schema, md.partitionKeys))
    val normalized = SchemaUtil.normalize(df, md.partitionKeys)
    // CHECK constraints gate the batch BEFORE any file lands
    enforceConstraints(md, normalized)
    writeBatch(spark, md.tableDir(base), md.partitionKeys, normalized, sortBy).keys.toSeq.sorted
  }

  /** Phase 3 (≙ commit_dataset, io/eager.py:433-527): register the labels
    * produced by [[writePartition]] calls (plus an optional delete scope
    * over partition keys), build or merge secondary indices, and publish
    * everything in ONE metadata put — readers see the union atomically.
    */
  def commit(
      spark: SparkSession,
      base: String,
      uuid: String,
      newLabels: Seq[String],
      deleteScope: Predicates = Predicates.empty): DatasetMetadata = {
    val md = DatasetMetadata.load(spark, base, uuid)
    val tableDir = md.tableDir(base)
    // validate + size ONLY the labels being registered — O(newLabels)
    // point lookups, never a recursive listing of the table dir
    val fsys = DatasetMetadata.fs(spark, base)
    val newSizes: Map[String, Long] = newLabels.map { l =>
      val p = new Path(s"$tableDir/$l")
      val st = try fsys.getFileStatus(p) catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(s"label '$l' not found under $tableDir")
      }
      l -> st.getLen
    }.toMap

    val deleted: Set[String] =
      if (deleteScope.isEmpty) Set.empty
      else md.partitions.keySet.filter(partitionScope(spark, md, deleteScope, "delete_scope"))
    // sidecars merge exactly like [[update]]: the first commit after
    // [[createEmpty]] finds no sidecar file and builds from its labels.
    // Without a delete scope the commit is a pure append, blind to the
    // parent like [[update]]'s.
    commitSnapshot(spark, base, md, newSizes, deleted, SeqRule.Append, "COMMIT PARTITIONS",
      blindAppend = deleteScope.isEmpty)
  }

  /** Register + build a secondary index on an EXISTING dataset
    * (≙ build_dataset_indices, io/eager.py): index job + metadata commit.
    */
  def addIndex(spark: SparkSession, base: String, uuid: String, column: String): DatasetMetadata =
    Sidecars.add(spark, base, uuid, Sidecars.Index, Seq(column))

  /** Dataset-merge join (≙ merge_datasets_as_delayed,
    * io_components/merge.py:25-128): join two datasets on their shared
    * columns (pandas-merge semantics: key columns appear once). The
    * reference aligns partitions by label to co-locate the join; on Spark
    * bucketing/AQE provide placement, so semantics reduce to a plain join
    * with both sides' predicates pushed into their own scans.
    *
    * `mergeFunc` is the custom merge hook (≙ MetaPartition.merge_dataframes'
    * `merge_func`, io_components/metapartition.py:983-1064): when given, it
    * receives the two predicate-filtered DataFrames and fully replaces the
    * default shared-column join — any Spark combination (asof join, union,
    * custom keying) plugs in.
    *
    * SIDE EFFECT when both datasets share partition keys: enables the three
    * SPJ session confs (v2.bucketing.enabled, pushPartValues.enabled,
    * requireAllClusterKeysForCoPartition=false) and CANNOT restore them —
    * they must still hold when the caller's action plans the returned
    * DataFrame. They persist for the session and may change plan selection
    * for other DSv2 joins; wrap execution in
    * `SparkEntry.withVolatileConfs` (or save/restore the keys yourself) to
    * scope them.
    */
  def mergeDatasets(
      spark: SparkSession,
      base: String,
      leftUuid: String,
      rightUuid: String,
      how: String = "inner",
      predicates: Predicates = Predicates.empty,
      mergeFunc: Option[(DataFrame, DataFrame) => DataFrame] = None): DataFrame = {
    val l = DatasetMetadata.load(spark, base, leftUuid)
    val r = DatasetMetadata.load(spark, base, rightUuid)
    val lp = predicates.restrictToColumns(l.schema.fieldNames.toSet).getOrElse(Predicates.empty)
    val rp = predicates.restrictToColumns(r.schema.fieldNames.toSet).getOrElse(Predicates.empty)
    // Co-partitioned datasets merge as a storage-partitioned join: both
    // sides read through the keyed DSv2 scan, which reports
    // KeyGroupedPartitioning over the shared partition columns, so the join
    // plans with ZERO Exchange — the Spark-native form of the reference's
    // partition-aligned merge (io_components/merge.py:25-128 zips
    // equal-labelled partitions pairwise). At 100 TB this is the difference
    // between shuffling both datasets and shuffling nothing.
    val colocated = l.partitionKeys.nonEmpty && l.partitionKeys == r.partitionKeys
    def readSide(md: DatasetMetadata, p: Predicates): DataFrame = {
      val df =
        if (colocated) {
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
          // join keys = ALL shared columns, a superset of the partition
          // keys; co-partitioning on the key subset is still valid
          spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
          spark.read.format("graft").option("uuid", md.uuid).option("keyed", "true").load(base)
        } else readTableWithMetadata(spark, base, md, predicates = p)
      if (colocated && !p.isEmpty) df.filter(p.toColumn) else df
    }
    val leftDf = readSide(l, lp)
    val rightDf = readSide(r, rp)
    mergeFunc match {
      case Some(f) => f(leftDf, rightDf)
      case None =>
        val shared = (l.schema.fieldNames.toSet intersect r.schema.fieldNames.toSet).toSeq.sorted
        require(shared.nonEmpty, s"datasets '$leftUuid' and '$rightUuid' share no columns")
        leftDf.join(rightDf, shared, how)
    }
  }

  // ---------------------------------------------------------------- gc / copy

  /** Delete files under the dataset dir not referenced by metadata
    * (≙ garbage_collect_dataset, io_components/gc.py:8-55).
    * Returns deleted keys.
    */
  /** Run `attempt` with optimistic-concurrency retries: on
    * [[ConcurrentCommitException]] the closure re-runs (it must RELOAD and
    * re-derive its commit — the helper only handles the retry loop and
    * backoff). The pattern for multi-writer datasets:
    * {{{
    *   Ktk.withCommitRetries() { Ktk.update(spark, base, uuid, Some(batch)) }
    * }}}
    * Each update re-reads the current metadata internally, so re-running
    * the call IS the correct conflict resolution for append-style commits;
    * read-modify-write flows must re-derive their decision inside the
    * closure.
    */
  def withCommitRetries[T](maxRetries: Int = 5, backoffMs: Long = 50L)(
      attempt: => T): T = {
    var tries = 0
    while (true) {
      try return attempt
      catch {
        case e: ConcurrentCommitException =>
          tries += 1
          if (tries > maxRetries) throw e
          // full-jitter, same rationale as update's append fast path:
          // deterministic sleeps resynchronize lost racers under fan-in
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(backoffMs * tries + 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ------------------------------------------------------- versioning

  /** All commit versions still listed under `_versions/` (ascending).
    * Every commit writes one immutable record there: v1 and every
    * [[DatasetMetadata.CheckpointEvery]]-th commit a full `v<n>.json`
    * snapshot, the rest an O(delta) `v<n>.delta.json` over their parent;
    * [[garbageCollect]] prunes them by its retention setting.
    */
  def listVersions(spark: SparkSession, base: String, uuid: String): Seq[Long] =
    DatasetMetadata.listVersions(spark, base, uuid)

  /** Time travel: read the dataset EXACTLY as of commit `version` (Delta /
    * Iceberg-style snapshot read). Works until [[garbageCollect]] reclaims
    * the snapshot or its files — gc's `retainVersions` controls how much
    * history survives maintenance.
    *
    * Sidecar pruning APPLIES on as-of reads for version-addressed
    * (nonce-named) sidecars: those dirs are never rewritten after the
    * snapshot referenced them (append-only commits only add rows for
    * labels the snapshot doesn't contain, which every probe tolerates), so
    * the snapshot's own registries are trustworthy — the full four-layer
    * skipping stack survives time travel. Only LEGACY fixed-name sidecars
    * (`<col>.parquet`, rewritten in place by pre-r6 commits) are dropped,
    * conservatively. Inline zone maps live in the snapshot blob itself and
    * are always safe.
    */
  def readTableAsOf(
      spark: SparkSession,
      base: String,
      uuid: String,
      version: Long,
      columns: Seq[String] = Nil,
      predicates: Predicates = Predicates.empty): DataFrame = {
    val snap = DatasetMetadata.loadVersion(spark, base, uuid, version)
    val md = Sidecars.mapRegistries(snap)((_, reg) =>
      reg.filter { case (c, n) => isVersionAddressed(c, n) })
    readTableWithMetadata(spark, base, md, columns, predicates)
  }

  /** Restore the dataset to the CONTENT of `toVersion` as a NEW commit
    * (roll-forward, ≙ Delta RESTORE — history is never rewritten, so
    * concurrent readers and the optimistic-concurrency chain stay intact).
    * Fails cleanly when the target's data files have already been
    * garbage-collected. Version-addressed sidecars whose files still exist
    * are RE-ADOPTED as-is (they are immutable and exactly describe the
    * restored content — no rebuild cost); legacy or vacuumed ones are
    * rebuilt against the restored partition set.
    */
  def rollback(spark: SparkSession, base: String, uuid: String, toVersion: Long): DatasetMetadata = {
    val cur = DatasetMetadata.load(spark, base, uuid)
    require(toVersion != cur.version,
      s"dataset '$uuid' is already at version ${cur.version}")
    val target = DatasetMetadata.loadVersion(spark, base, uuid, toVersion)
    val fsys = DatasetMetadata.fs(spark, base)
    val tableDir = cur.tableDir(base)
    // only files absent from the CURRENT commit can have been gc'd —
    // point lookups on exactly that difference, not an O(#files) walk
    val missing = (target.partitions.keySet -- cur.partitions.keySet)
      .filterNot(l => fsys.exists(new Path(s"$tableDir/$l")))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"cannot roll back '$uuid' to version $toVersion: ${missing.size} data " +
          s"file(s) were garbage-collected (e.g. '${missing.head}'); " +
          "run gc with retainVersions > 0 to keep history restorable")
    // deletion-vector fragments are part of the target's CONTENT (reads
    // are wrong without them) — unlike pruning sidecars they cannot be
    // dropped-and-rebuilt, so a vacuumed fragment blocks the rollback
    val missingDv = (target.deleteFragments.toSet -- cur.deleteFragments.toSet)
      .filterNot(n => fsys.exists(new Path(target.deletePath(base, n))))
    if (missingDv.nonEmpty)
      throw new IllegalStateException(
        s"cannot roll back '$uuid' to version $toVersion: ${missingDv.size} deletion-" +
          s"vector fragment(s) were garbage-collected (e.g. '${missingDv.head}')")
    // the seq high watermark must survive the rollback: restoring the
    // TARGET's (older) hwm would let a post-rollback commit reuse sequence
    // numbers assigned between toVersion and now, and the change feed
    // (which filters on seq > checkpoint) would silently drop those rows —
    // carry forward the max over both commits' hwm and every assigned seq
    val hwm = Seq(
      target.metadata.get(DatasetMetadata.SeqHwmKey).map(_.toLong).getOrElse(0L),
      cur.metadata.get(DatasetMetadata.SeqHwmKey).map(_.toLong).getOrElse(0L),
      (0L +: cur.partitions.keys.toSeq.map(cur.seqOf)).max).max
    // re-adopt the target's version-addressed sidecars that still exist —
    // immutable, so they describe the restored content exactly
    val kept = Sidecars.mapRegistries(target)((k, reg) =>
      reg.filter { case (c, n) =>
        isVersionAddressed(c, n) && fsys.exists(new Path(s"$base/$uuid/${k.dir}/$n")) })
    val restored = kept.copy(
      metadata = target.metadata +
        (DatasetMetadata.VersionKey -> cur.version.toString) +
        (DatasetMetadata.SeqHwmKey -> hwm.toString) +
        // re-sync signal for change-feed consumers (rollbackVersions):
        // keyed by the rollback commit's OWN version so inherited copies
        // on later commits don't read as rollbacks
        (DatasetMetadata.RollbackCommitKey -> (cur.version + 1).toString) +
        (DatasetMetadata.RollbackOfKey -> toVersion.toString))
    // legacy or vacuumed sidecars are rebuilt against the restored labels
    // (inline zone maps travel INSIDE the restored blob)
    Sidecars.kinds.foldLeft(DatasetMetadata.store(spark, base, restored, parentMd = Some(cur),
        operation = "ROLLBACK")) { (out, k) =>
      val missing = (k.registry(target).keySet -- k.registry(kept).keySet).toSeq.sorted
      if (missing.isEmpty) out else Sidecars.add(spark, base, uuid, k, missing)
    }
  }

  /** Recursive file enumeration via a listStatus walk — NEVER
    * `FileSystem.listFiles(recursive)`: that API materializes
    * `LocatedFileStatus`es, whose construction copies permissions, and on
    * a RawLocalFileSystem without the native-hadoop library the
    * permission load EXECs `ls -ld` PER FILE (measured here: 400 files in
    * 2.13 s via listFiles vs a 20k-file listStatus walk in 0.51 s —
    * ~260× per file). No caller of these walks reads permissions or
    * block locations, so the copy buys nothing. On object stores this
    * trades the flat prefix LIST for one LIST per directory; the big
    * walks (fsck/gc/salvage) recurse DISTRIBUTED per first-level
    * directory (see [[listTableFiles]]), so each task issues its
    * directory fan-out in requests, not its file count.
    */
  private[graft] def walkFiles(fs: org.apache.hadoop.fs.FileSystem, root: Path)(
      f: org.apache.hadoop.fs.FileStatus => Unit): Unit = {
    val stack = scala.collection.mutable.Stack(root)
    while (stack.nonEmpty) {
      fs.listStatus(stack.pop()).foreach { st =>
        if (st.isDirectory) { stack.push(st.getPath); () }
        else if (st.isFile) f(st) // isFile, not !isDirectory: skip symlinks
      }
    }
  }

  /** Past this many first-level directories under `table/`,
    * [[listTableFiles]] walks them in a Spark job.
    */
  private[graft] val ParallelListThreshold = 32

  /** A data file's name: the `_`/`.` filter applies to LEAF FILE NAMES
    * ONLY — a partition COLUMN may legally start with '_' (UrlCodec keeps
    * it), so directories always recurse.
    */
  private[graft] def isDataFile(st: org.apache.hadoop.fs.FileStatus): Boolean = {
    val name = st.getPath.getName
    st.isFile && !name.startsWith("_") && !name.startsWith(".")
  }

  /** Recursively list the DATA files under `table/` (the qualified
    * `tableRoot`) as table-relative paths (labels) — the one listing fsck,
    * gc and salvage diff against the labels the commit log references.
    * Top-level files list on the driver; so do the first-level directories'
    * walks up to `threshold` of them, and past it those walks run as one
    * Spark job (the InMemoryFileIndex parallel-discovery pattern) whose
    * labels collect to the driver — a wide table's maintenance pass must
    * not serialize a million object-store LIST calls through the driver.
    */
  private[graft] def listTableFiles(
      spark: SparkSession, fsys: org.apache.hadoop.fs.FileSystem,
      tableRoot: Path, threshold: Int = ParallelListThreshold): Seq[String] = {
    if (!fsys.exists(tableRoot)) return Nil
    // relativize against the EXACT qualified root, never a path pattern: a
    // component under the root that happens to be named like the root dir
    // must not shift the label, because gc deletes by label difference and a
    // wrong label is a wrong delete
    val prefix = tableRoot.toString + "/"
    // stream the root listing: only directory paths and labels are kept
    val dirs = Seq.newBuilder[String]
    val labels = Seq.newBuilder[String]
    val rootIt = fsys.listStatusIterator(tableRoot)
    while (rootIt.hasNext) {
      val st = rootIt.next()
      if (st.isDirectory) dirs += st.getPath.toString
      else if (isDataFile(st)) labels += stripLabelPrefix(st.getPath.toString, prefix)
    }
    val sub = dirs.result()
    if (sub.length <= threshold) sub.foreach(d => labels ++= walkLabels(fsys, d, prefix))
    else {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      labels ++= spark.sparkContext.parallelize(sub, math.min(64, sub.length))
        .flatMap(d => walkLabels(new Path(d).getFileSystem(conf.value), d, prefix))
        .collect()
    }
    labels.result()
  }

  /** The labels (paths past `prefix`) of the data files under `dir`. */
  private[graft] def walkLabels(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      prefix: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    walkFiles(fs, new Path(dir)) { st =>
      if (isDataFile(st)) out += stripLabelPrefix(st.getPath.toString, prefix)
    }
    out.result()
  }

  /** Exact-prefix label relativization, loud on mismatch: the caller hands
    * the qualified table root, and a listed path that does not start with it
    * means the two sides qualified differently — guessing a label there
    * risks attributing (and in gc, DELETING) the wrong file.
    */
  private[graft] def stripLabelPrefix(path: String, prefix: String): String = {
    // normalize the URI form first: PartitionedFile renders `file:///x`
    // where Path.toString (the prefix's form) renders `file:/x`
    val norm = new Path(path).toString
    if (!norm.startsWith(prefix))
      throw new IllegalStateException(
        s"listed file '$norm' is not under the qualified table root '$prefix' — " +
          "refusing to guess its table-relative label")
    norm.substring(prefix.length)
  }

  /** Integrity audit (the FSCK verb of operational table formats),
    * METADATA-DRIVEN and strictly read-only: verifies that everything the
    * retained commit history references still exists in storage, and
    * previews unreferenced leftovers gc would reap. One recursive listing
    * of `table/`, ONE `_versions` listing and one ascending walk of the
    * commit log ([[DatasetMetadata.replayChains]]: one record read per
    * version, one snapshot held at a time) — no data pages read, safe
    * against a live table. Walking every listed version, it reads
    * STORAGE, never this JVM's snapshot cache, which would mask a
    * vacuumed record that strands every fresh reader (the fault fsck
    * exists to find). Rows
    * `(kind, version, path)`, `version` = the newest retained commit
    * affected:
    *
    *  - `missing_dv_fragment` — tombstones GONE: reads would silently
    *    RESURRECT deleted rows (the one silent-corruption case; first);
    *  - `missing_data_file` — a retained snapshot references a vanished
    *    file: reads of that version fail;
    *  - `missing_index` / `missing_bloom` / `missing_zone` — registry
    *    entry whose sidecar is gone (index reads fail; bloom/zone pruning
    *    silently degrades to keep-all);
    *  - `broken_replay_chain` — a version whose delta chain no longer
    *    reaches a checkpoint (unreachable for time travel); `version` is
    *    the stranded commit, `path` the MISSING record that severed it
    *    (the one an operator can restore);
    *  - `orphan_file` — present under `table/`, referenced by NO retained
    *    version (gc-candidate preview, not a fault). The ONE unbounded
    *    fault class (O(garbage), not O(damage)): listed rows cap at
    *    `spark.graft.fsck.orphanLimit` (sorted, deterministic), with an
    *    `orphan_overflow` row carrying the FULL count in `version` when
    *    truncated.
    *
    * Output order is deterministic: `(kind, path, version)`.
    */
  def fsck(spark: SparkSession, base: String, uuid: String): DataFrame = {
    import spark.implicits._
    val fs = DatasetMetadata.fs(spark, base)
    val issues = Seq.newBuilder[(String, Long, String)]
    val log = DatasetMetadata.listLog(spark, base, uuid)
    // newest referencing version per label and per sidecar / fragment
    // name, folded as the walk ascends (Option-guarded: absent fields
    // deserialize to null on old blobs)
    val referenced = scala.collection.mutable.HashMap.empty[String, Long]
    val sidecarRefs = scala.collection.mutable.HashMap.empty[(String, String), Long]
    DatasetMetadata.replayChains(spark, base, uuid, log.versions, log).foreach {
      case (v, Left(gap)) =>
        issues += (("broken_replay_chain", v, DatasetMetadata.versionDeltaKey(base, uuid, gap)))
      case (v, Right(md)) =>
        Option(md.partitions).getOrElse(Map.empty[String, Long]).keysIterator
          .foreach(referenced(_) = v)
        md.deleteFragments.foreach(n => sidecarRefs(("missing_dv_fragment", n)) = v)
        Sidecars.kinds.foreach(k => k.registry(md).values.foreach(n => sidecarRefs((k.issue, n)) = v))
    }
    // one (parallel-capable) listing answers both data-file checks
    val tableRoot = fs.makeQualified(new Path(s"$base/$uuid/table"))
    val present: Set[String] = listTableFiles(spark, fs, tableRoot).toSet
    referenced.foreach { case (label, v) =>
      if (!present.contains(label)) issues += (("missing_data_file", v, label))
    }
    val orphans = present.toSeq.filterNot(referenced.contains).sorted
    val cap = orphanLimit(spark)
    orphans.take(cap).foreach(l => issues += (("orphan_file", -1L, l)))
    if (orphans.size > cap)
      issues += (("orphan_overflow", orphans.size.toLong, overflowMsg(orphans.size.toLong, cap)))
    // sidecars + fragments: one existence probe per distinct name
    // (registries are metadata-sized)
    val sidecarDirs = Map("missing_dv_fragment" -> DatasetMetadata.DeletesDirName) ++
      Sidecars.kinds.map(k => k.issue -> k.dir)
    sidecarRefs.foreach { case ((kind, name), v) =>
      if (sidecarMissing(fs, base, uuid, sidecarDirs(kind), name))
        issues += ((kind, v, s"${sidecarDirs(kind)}/$name"))
    }
    val order = (Seq("missing_dv_fragment", "missing_data_file") ++
      Sidecars.kinds.map(_.issue) ++
      Seq("broken_replay_chain", "orphan_file", "orphan_overflow")).zipWithIndex.toMap
    issues.result().sortBy { case (k, v, p) => (order(k), p, v) }
      .toDF("kind", "version", "path")
  }

  /** Default cap on the names a maintenance verb's REPORT returns through
    * the driver (gc's reclaimed paths, salvage's dropped references). The
    * full count always reports; only the listed sample is bounded.
    */
  val DefaultMaintenanceReportLimit = 10000

  /** Bounded [[garbageCollectReport]] result: the full reclaimed count,
    * whether the listed sample was truncated, and at most `reportLimit`
    * reclaimed paths.
    */
  final case class GcReport(reclaimedCount: Long, truncated: Boolean,
      reclaimed: Seq[String])

  /** Bounded [[salvageReport]] result: the full dropped-reference count,
    * whether the listed sample was truncated, and at most `reportLimit`
    * `(kind, path)` references.
    */
  final case class SalvageReport(droppedCount: Long, truncated: Boolean,
      dropped: Seq[(String, String)])

  /** Cap on the `orphan_file` rows [[fsck]] lists (`orphan_overflow`
    * carries the full count past it): the one fault class whose
    * cardinality is O(garbage) rather than O(damage), so it must not
    * return a million rows through the driver. Tunable per session.
    */
  private def orphanLimit(spark: SparkSession): Int = {
    val key = "spark.graft.fsck.orphanLimit"
    spark.conf.getOption(key).map { s =>
      val cap =
        try s.trim.toInt
        catch {
          case e: NumberFormatException =>
            throw new IllegalArgumentException(
              s"invalid $key='$s': must be an integer row cap", e)
        }
      // a zero/negative cap would silently preview nothing — reject up
      // front, same style as the parse error
      if (cap <= 0) throw new IllegalArgumentException(
        s"invalid $key=$cap: must be a positive row cap")
      cap
    }.getOrElse(DefaultMaintenanceReportLimit * 10)
  }

  private def overflowMsg(total: Long, cap: Int): String =
    s"$total orphan files total; listing the first $cap " +
      "(raise spark.graft.fsck.orphanLimit to list more, or gc to reap)"

  /** Sidecar/fragment existence probe shared by [[fsck]] and [[salvage]]
    * so path construction cannot silently diverge between audit and repair.
    */
  private def sidecarMissing(fs: org.apache.hadoop.fs.FileSystem,
      base: String, uuid: String, dir: String, name: String): Boolean =
    !fs.exists(new Path(s"$base/$uuid/$dir/$name"))

  /** Salvage after a storage incident — the REPAIR companion of [[fsck]]:
    * commit ONE version that drops every CURRENT-snapshot reference whose
    * backing storage is gone (vanished data files, dead index/bloom/zone
    * sidecar registry entries) so reads work again instead of failing on
    * the first missing file. Loud semantics where integrity is at stake:
    *
    *  - dropping a missing DATA file loses its rows — acknowledged data
    *    loss, returned in the report;
    *  - a missing DV FRAGMENT would RESURRECT deleted rows if simply
    *    dropped, so salvage REFUSES unless `acceptResurrection = true`
    *    (GDPR deletions may reappear — the caller must opt in);
    *  - older retained versions still reference what storage lost: fsck
    *    keeps flagging them (time travel to them IS broken) until gc
    *    prunes them.
    *
    * Returns the dropped references as `(kind, path)`; `dryRun` reports
    * without committing. No-op (no commit) when nothing is missing. Only
    * the CURRENT snapshot is audited — one listing of `table/` diffed
    * against its labels on the driver, where the repair commit holds the
    * snapshot anyway.
    */
  def salvage(spark: SparkSession, base: String, uuid: String,
      acceptResurrection: Boolean = false,
      dryRun: Boolean = false): Seq[(String, String)] = {
    val fs = DatasetMetadata.fs(spark, base)
    val md = DatasetMetadata.load(spark, base, uuid)
    val tableRoot = fs.makeQualified(new Path(md.tableDir(base)))
    val present = listTableFiles(spark, fs, tableRoot).toSet
    val missingData: Seq[String] =
      Option(md.partitions).getOrElse(Map.empty[String, Long]).keys.toSeq.sorted
        .filterNot(present.contains)
    // dead registry entries, per kind: (column, sidecar name)
    val dead: Map[Sidecars.Kind, Seq[(String, String)]] = Sidecars.kinds.map { k =>
      k -> k.registry(md).toSeq.sortBy(_._1).filter { case (_, n) =>
        sidecarMissing(fs, base, uuid, k.dir, n) }
    }.toMap
    val missingFrags = md.deleteFragments.filterNot(n =>
      fs.exists(new Path(md.deletePath(base, n))))
    val report =
      missingData.map("missing_data_file" -> _) ++
        Sidecars.kinds.flatMap(k => dead(k).map { case (c, n) =>
          k.issue -> s"${k.dir}/$n (column $c)" }) ++
        missingFrags.map("missing_dv_fragment" -> _)
    // dry runs REPORT the fragment loss (that's what damage assessment is
    // for); only a real repair needs the resurrection opt-in
    if (report.isEmpty || dryRun) return report
    if (missingFrags.nonEmpty && !acceptResurrection)
      throw new IllegalStateException(
        s"dataset '$uuid' lost ${missingFrags.size} deletion-vector fragment(s) " +
          s"(${missingFrags.mkString(", ")}): dropping them would RESURRECT deleted " +
          "rows (e.g. GDPR deletions). Restore the fragments from backup, or pass " +
          "acceptResurrection = true to salvage anyway.")
    val gone = missingData.toSet
    val repaired = Sidecars.mapRegistries(md)((k, reg) => reg -- dead(k).map(_._1)).copy(
      partitions = Option(md.partitions).getOrElse(Map.empty[String, Long]) -- gone,
      partitionSeq = Option(md.partitionSeq).getOrElse(Map.empty) -- gone,
      deletes = md.deleteFragments.filterNot(missingFrags.contains))
    DatasetMetadata.store(spark, base, repaired, parentMd = Some(md),
      operation = "SALVAGE")
    report
  }

  /** [[salvage]] with a BOUNDED returned report (count + at most
    * `reportLimit` `(kind, path)` references + truncation marker) — the
    * form the `salvage_report` SQL procedure uses. Salvage's intrinsic
    * driver floor is the CURRENT snapshot (the repair commit rewrites it,
    * so it is resident either way); the bound here is about not RETURNING
    * a million-reference damage report through the caller, not about the
    * repair's own memory.
    */
  def salvageReport(spark: SparkSession, base: String, uuid: String,
      acceptResurrection: Boolean = false,
      dryRun: Boolean = false,
      reportLimit: Int = DefaultMaintenanceReportLimit): SalvageReport = {
    require(reportLimit >= 0, s"reportLimit must be >= 0, got $reportLimit " +
      "(use salvage for the unbounded Seq-returning form)")
    val full = salvage(spark, base, uuid, acceptResurrection, dryRun)
    SalvageReport(full.size.toLong, full.size > reportLimit, full.take(reportLimit))
  }

  /** One-call table maintenance (the OPTIMIZE entry point a scheduler
    * runs): [[compact]] small files (which also drains deletion vectors
    * for its victims and re-canonicalizes appended sidecar fragments),
    * [[materializeDeletes]] for any remaining tombstoned files, then
    * optionally [[garbageCollect]] with the given retention. Sidecar
    * fragments need no step of their own: every commit keeps them under
    * [[Sidecars.MaxFragments]]. Each step is
    * its own atomic commit; a crash between steps leaves a smaller,
    * still-consistent dataset.
    */
  def optimize(
      spark: SparkSession,
      base: String,
      uuid: String,
      smallFileBytes: Long = 32L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      gcRetainVersions: Int = -1,
      scope: Predicates = Predicates.empty,
      // maintenance jobs are exactly where a lagging CDC consumer gets
      // stranded — the floor applies to the optimize-embedded gc too
      consumerCheckpoints: Seq[String] = Nil): DatasetMetadata = {
    // the scope flows into the rewrite stages; gc stays global (it is
    // file reaping, not a rewrite)
    compact(spark, base, uuid, smallFileBytes, targetFileBytes, scope = scope)
    var md = materializeDeletes(spark, base, uuid, targetFileBytes, scope = scope)
    if (gcRetainVersions >= 0) {
      garbageCollect(spark, base, uuid, gcRetainVersions,
        consumerCheckpoints = consumerCheckpoints)
      md = DatasetMetadata.load(spark, base, uuid)
    }
    md
  }

  // ---------------------------------------------------------------- gc

  /** Delete files no retained commit references (≙ garbage_collect,
    * io/eager.py + Delta VACUUM). `retainVersions` = how many commits of
    * history stay time-travelable: snapshots in
    * `[current - retainVersions, current]` survive and PIN their data
    * files; older snapshots are pruned. The default 0 keeps only the
    * current commit — maximal reclamation, no history (exactly the
    * reference's gc semantics).
    *
    * The referenced set comes from ONE `_versions` listing and one
    * ascending walk of the retained commit log
    * ([[DatasetMetadata.replay]]: one record read per version, one
    * snapshot held at a time); the driver holds the retained versions'
    * labels, never their snapshots all at once. Each retained version's
    * own record is read from storage, so a retained version stranded by
    * a vacuumed record fails gc even when this JVM still caches it. One
    * listing of `table/` ([[listTableFiles]]) is diffed against those
    * labels on the driver; the garbage is held as path strings and
    * deleted in one step, distributed past a handful of paths.
    *
    * `sidecarGraceMs` (Delta-VACUUM-style retention): an unreferenced
    * sidecar dir YOUNGER than this is skipped, because every commit has a
    * window after [[atomicSidecarWrite]] renames the nonce dir into place
    * and before `DatasetMetadata.store` publishes the registry naming
    * it — in that window the dir is an in-flight commit, not garbage.
    * Reaping it would leave the about-to-commit registry pointing at a
    * missing path (probes degrade to no-pruning; loadIndex throws until
    * the next fold). Tests that need immediate reclamation pass 0
    * — with the documented caveat that 0 is only safe when no writer is
    * concurrently committing.
    *
    * `consumerCheckpoints`: registering a consumer that has NOT polled yet
    * requires its checkpoint's PARENT DIRECTORY to exist — gc fails loudly
    * on a checkpoint path whose parent is also absent, because such a path
    * is indistinguishable from a typo and a typo'd path would silently pin
    * retention at version 0 forever. `mirrorChanges`/`consumeChanges`
    * create the parent on their first poll; to register ahead of the first
    * poll, pre-create the parent directory (one `fs.mkdirs`).
    */
  def garbageCollect(spark: SparkSession, base: String, uuid: String,
      retainVersions: Int = 0,
      sidecarGraceMs: Long = 15L * 60 * 1000,
      dryRun: Boolean = false,
      retainLastMs: Long = -1L,
      consumerCheckpoints: Seq[String] = Nil): Seq[String] = {
    val fs = DatasetMetadata.fs(spark, base)
    val tableRoot = fs.makeQualified(new Path(s"$base/$uuid/table"))
    // the pointer before the listing: every published version is listed
    val head = DatasetMetadata.head(spark, base, uuid)
    val log = DatasetMetadata.listLog(spark, base, uuid)
    val allVersions = log.versions
    // `retainLastMs` (Delta VACUUM's RETAIN <n> HOURS): every version
    // committed inside the wall-clock window ALSO survives — it can only
    // WIDEN what `retainVersions` keeps, so a lagging CDC consumer's
    // window can be protected by time without counting commits.
    // Deliberately keyed on record MTIMES, not the in-commit stamp: a
    // freshly copied dataset gets young mtimes and so RETAINS MORE — the
    // safe direction for deletion, while time travel uses the stamp
    val keepFrom0 = {
      val byCount = head.fold(_.version, identity) - retainVersions
      if (retainLastMs < 0L) byCount
      else {
        val cutoff = System.currentTimeMillis() - retainLastMs
        val timeKept = log.mtimes.collect { case (v, m) if m >= cutoff => v }
        math.min(byCount, if (timeKept.isEmpty) byCount else timeKept.min)
      }
    }
    // consumer-aware floor: a REGISTERED change consumer (consumeChanges /
    // mirrorChanges checkpoint files) whose poll lags must keep its whole
    // remaining window replayable — the feed over (v, cur] loads every
    // snapshot back to v itself (parent diffs), so the floor is the
    // checkpointed version. A checkpoint that does not exist yet floors at
    // 0 (nothing consumed: keep everything rather than strand the consumer
    // before its first poll). Unregistered consumers keep today's loud
    // failure: their next poll hits the vacuumed-version error.
    val keepFrom = consumerCheckpoints.foldLeft(keepFrom0) { (kf, cp) =>
      val floor = readChangeCheckpoint(spark, cp)
      // floor 0 = nothing consumed = retention fully disabled. Legitimate
      // for a registered-but-not-yet-started consumer — but byte-identical
      // to a TYPO'D path, which would pin keepFrom at 0 forever with no
      // signal. Distinguish the two: a real about-to-start consumer's
      // checkpoint has (or will have) a parent directory the operator
      // created; a path whose parent does not exist either is almost
      // certainly mistyped, so fail loudly instead of silently keeping
      // every version for eternity.
      if (floor == 0L) {
        val fsys = DatasetMetadata.fs(spark, cp)
        val p = new Path(cp)
        val parent = Option(p.getParent)
        if (!fsys.exists(p) && !parent.exists(fsys.exists))
          throw new IllegalArgumentException(
            s"consumer checkpoint '$cp' does not exist and neither does its " +
              "parent directory — a mistyped path here would silently disable " +
              "gc retention forever (floor 0 keeps every version). Create the " +
              "parent directory to register a consumer that has not started " +
              "yet, or fix the path.")
        logWarning(s"consumer checkpoint '$cp' has consumed nothing yet: gc " +
          s"retention floored at version 0 (ALL versions kept) until its first poll")
      }
      math.min(kf, floor)
    }
    val (keptVersions, prunedVersions) = allVersions.partition(_ >= keepFrom)
    // referenced labels + per-dir valid sidecar / fragment names of every
    // retained version, from one walk of the commit log. The walk reads
    // each retained record from storage: a retained version stranded by a
    // vacuumed record fails gc even when this JVM still caches it —
    // deleting "orphans" while blind to part of the history is how data
    // loss happens. The head joins the walk even if unlisted, so a
    // vanished head record fails loudly too.
    val referenced = scala.collection.mutable.HashSet.empty[String]
    val sidecarValid = scala.collection.mutable.LinkedHashMap.from(
      (Sidecars.kinds.map(_.dir) :+ DatasetMetadata.DeletesDirName)
        .map(_ -> scala.collection.mutable.HashSet.empty[String]))
    def pin(md: DatasetMetadata): Unit = {
      referenced ++= md.partitions.keysIterator
      Sidecars.kinds.foreach(k => sidecarValid(k.dir) ++= k.registry(md).values)
      // deletion-vector fragments pin exactly like pruning sidecars — a
      // retained snapshot NEEDS its fragments for correct reads
      sidecarValid(DatasetMetadata.DeletesDirName) ++= md.deleteFragments
    }
    head.left.foreach(pin) // legacy full-blob pointer
    DatasetMetadata.replay(spark, base, uuid,
        (keptVersions ++ head.toOption).distinct.sorted, log).foreach { case (v, md) =>
      // the OLDEST retained version may be a delta whose replay chain runs
      // through records about to be pruned: materialize it as a
      // self-contained checkpoint FIRST, so every retained version stays
      // loadable from retained records alone
      if (prunedVersions.nonEmpty && !dryRun && keptVersions.headOption.contains(v))
        DatasetMetadata.materializeCheckpoint(spark, base, uuid, v, md)
      pin(md)
    }
    // the garbage, as strings: data files no retained version references
    // (sorted by label, so a bounded report's sample is deterministic),
    // then sidecar dirs, then pruned commit records
    val garbage = Seq.newBuilder[String]
    val prefix = tableRoot.toString + "/"
    garbage ++= listTableFiles(spark, fs, tableRoot).filterNot(referenced.contains)
      .sorted.map(prefix + _)
    // index / bloom / zone sidecar files referenced by NO retained version's
    // registry — retained snapshots pin their version-addressed sidecars
    // exactly like their data files, so time travel keeps full pruning
    sidecarValid.foreach { case (dir, valid) =>
      val root = fs.makeQualified(new Path(s"$base/$uuid/$dir"))
      if (fs.exists(root)) {
        val now = System.currentTimeMillis()
        fs.listStatus(root).foreach { st =>
          if (!valid.contains(st.getPath.getName) && !st.getPath.getName.startsWith(".")) {
            // grace check: age = newest mtime of the dir OR its direct
            // children (directory mtimes alone are unreliable/zero on
            // object stores; the parquet files inside carry real ones)
            val newest = (st.getModificationTime +:
              (try fs.listStatus(st.getPath).toSeq.map(_.getModificationTime)
               catch { case _: java.io.IOException => Nil })).max
            if (newest < now - sidecarGraceMs) garbage += st.getPath.toString
          }
        }
      }
    }
    // commit records older than the retention window, as the one
    // `_versions` listing found them — history beyond `retainVersions`
    // stops being time-travelable here, by design (the oldest retained
    // version was checkpointed during the walk above)
    prunedVersions.foreach { v =>
      if (log.full(v)) garbage += new Path(DatasetMetadata.versionKey(base, uuid, v)).toString
      if (log.delta(v)) garbage += new Path(DatasetMetadata.versionDeltaKey(base, uuid, v)).toString
    }
    val reclaimed = garbage.result()
    if (!dryRun) {
      // distribute the deletes past a handful: after heavy
      // compaction/streaming churn the orphan count is O(#historical
      // files), and sequential driver-side deletes against an object store
      // dominate the maintenance pass
      if (reclaimed.size <= 16) reclaimed.foreach(p => fs.delete(new Path(p), true))
      else {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        spark.sparkContext.parallelize(reclaimed, math.min(32, 1 + reclaimed.size / 64))
          .foreach { s =>
            val p = new Path(s)
            p.getFileSystem(conf.value).delete(p, true); ()
          }
      }
      // a post-gc loadVersion of a pruned commit must fail loudly, not
      // answer from this JVM's snapshot cache
      prunedVersions.foreach(DatasetMetadata.uncacheVersion(base, uuid, _))
    }
    reclaimed
  }

  /** [[garbageCollect]] with a BOUNDED returned report — the form an
    * operator (or the `gc_report` SQL procedure) should use on incident
    * scale: a pathological million-orphan reap must not return a 100 MB
    * `Seq` through the caller. The same run as [[garbageCollect]] (which
    * holds the garbage on the driver as strings); `reclaimedCount` is the
    * full count, `reclaimed` its first `reportLimit` paths (data files in
    * label order, then sidecar dirs, then pruned records) and `truncated`
    * says whether anything was dropped.
    */
  def garbageCollectReport(spark: SparkSession, base: String, uuid: String,
      retainVersions: Int = 0,
      sidecarGraceMs: Long = 15L * 60 * 1000,
      dryRun: Boolean = false,
      retainLastMs: Long = -1L,
      consumerCheckpoints: Seq[String] = Nil,
      reportLimit: Int = DefaultMaintenanceReportLimit): GcReport = {
    require(reportLimit >= 0, s"reportLimit must be >= 0, got $reportLimit " +
      "(use garbageCollect for the unbounded Seq-returning form)")
    val all = garbageCollect(spark, base, uuid, retainVersions, sidecarGraceMs, dryRun,
      retainLastMs, consumerCheckpoints)
    GcReport(all.size.toLong, all.size > reportLimit, all.take(reportLimit))
  }

  /** Copy a dataset to a new uuid (≙ copy_dataset + modify_uuid,
    * io/eager.py:946-1007, core/dataset.py:956-993). The byte copy runs as
    * a DISTRIBUTED job over the file list — a driver-side recursive copy of
    * a 100 TB dataset would take days; this scales with the cluster. The
    * new metadata blob commits LAST, so the copy is invisible until whole.
    */
  def copyDataset(spark: SparkSession, base: String, fromUuid: String, toUuid: String): DatasetMetadata = {
    val md = DatasetMetadata.load(spark, base, fromUuid)
    val fs = DatasetMetadata.fs(spark, base)
    val srcRoot = fs.makeQualified(new Path(s"$base/$fromUuid"))
    val prefix = srcRoot.toString + "/"
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(srcRoot)) {
      walkFiles(fs, srcRoot) { st =>
        val rel = st.getPath.toString.stripPrefix(prefix)
        // version snapshots embed the SOURCE uuid — the copy starts a fresh
        // history (its commit below becomes v1) instead of inheriting blobs
        // that name another dataset
        if (!rel.startsWith("_versions/"))
          files += rel
      }
    }
    val serializableConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val srcStr = srcRoot.toString
    val dstStr = s"$base/$toUuid"
    if (files.nonEmpty)
      spark.sparkContext.parallelize(files.toSeq, math.min(32, 1 + files.size / 8))
        .foreachPartition { rels =>
          val conf = serializableConf.value
          rels.foreach { rel =>
            val src = new Path(s"$srcStr/$rel")
            val dst = new Path(s"$dstStr/$rel")
            val sfs = src.getFileSystem(conf)
            org.apache.hadoop.fs.FileUtil.copy(sfs, src, dst.getFileSystem(conf), dst,
              false, true, conf)
            ()
          }
        }
    // fresh version line for the copy: v1, not the source's counter
    val md2 = md.copy(uuid = toUuid,
      metadata = md.metadata - DatasetMetadata.VersionKey)
    DatasetMetadata.store(spark, base, md2, operation = "COPY")
    DatasetMetadata.load(spark, base, toUuid)
  }

  // ---------------------------------------------------------------- stats

  /** Per-file Parquet footer stats (≙ get_parquet_metadata,
    * metapartition.py:1720-1771, and collect_dataset_metadata's `frac`
    * sampling, io/dask/dataframe.py:491-574): rows, row groups, size.
    * Footer reads are distributed via mapPartitions over the file list —
    * no data scan, and no stat: each footer is found from the size the
    * snapshot records. `frac` < 1 samples that fraction of the FILE LIST
    * (deterministically, by `seed`) before any footer is read — the
    * reference's cheap table-profile mode; at least one file is always
    * read on a non-empty table.
    */
  def parquetStats(spark: SparkSession, base: String, uuid: String,
      frac: Double = 1.0, seed: Long = 42L): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0, 1], got $frac")
    val md = DatasetMetadata.load(spark, base, uuid)
    val tableDir = md.tableDir(base)
    val all = SnapshotScan.sized(md, md.partitions.keys.toSeq.sorted)
      .map { case (l, size) => (s"$tableDir/$l", size) }
    val files =
      if (frac >= 1.0 || all.isEmpty) all
      else new scala.util.Random(seed).shuffle(all)
        .take(math.max(1, math.round(frac * all.size).toInt))
    val serializableConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    import spark.implicits._
    spark.sparkContext.parallelize(files, math.max(1, math.min(files.size, 32)))
      .mapPartitions { it =>
        val conf = serializableConf.value
        it.map { case (f, size) =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
            new org.apache.hadoop.fs.FileStatus(size, false, 0, 0L, 0L, new Path(f)), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val fm = reader.getFooter.getBlocks
            val rows = fm.stream().mapToLong(_.getRowCount).sum()
            (f, fm.size(), rows)
          } finally reader.close()
        }
      }.toDF("file", "row_groups", "rows")
  }

  /** Content hash per group (≙ hash_dataset, io/dask/dataframe.py:577-649):
    * order-independent per-group sum of row hashes, accumulated in decimal
    * so ANSI mode cannot overflow, folded back to one long.
    */
  def hashDataset(df: DataFrame, groupKeys: Seq[String],
      hashExpr: Option[Column] = None): DataFrame = {
    val payload = df.columns.toSeq
    // default per-row hash: codegen'd xxhash64 over the raw column values
    // (no serialization cost). `hashExpr` swaps in any other non-negative
    // long-valued row hash — e.g. [[md5RowHash]], whose string-serialized
    // form replays bit-for-bit in engines without xxhash64
    val h = hashExpr
      .getOrElse(xxhash64(payload.map(c => col(s"`$c`")): _*))
      .cast("decimal(38,0)")
    val folded = pmod(sum(h), lit(Long.MaxValue).cast("decimal(38,0)")).cast("long").as("hash")
    if (groupKeys.isEmpty) df.agg(folded)
    else df.groupBy(groupKeys.map(c => col(s"`$c`")): _*).agg(folded)
  }

  /** Portable per-row hash for [[hashDataset]]'s `hashExpr`: the first 60
    * bits of `md5("|"-joined string casts of every column)` as a
    * non-negative long. Unlike the xxhash64 default this serializes
    * through strings, so any engine with `md5` + hex→int reproduces it
    * exactly (DuckDB: `CAST('0x'||substring(md5(concat_ws(...)),1,15) AS
    * BIGINT)`); the cost is the string materialization, so the default
    * stays xxhash64 for production fingerprints. Caveat of the string
    * form: rows that serialize identically collide — a value containing
    * the `|` separator can alias a column boundary, and `concat_ws`
    * skips nulls entirely (null ≠ empty string is NOT preserved). The
    * xxhash64 default hashes raw typed values and has neither ambiguity.
    */
  def md5RowHash(df: DataFrame): Column = {
    val s = concat_ws("|", df.columns.toSeq.map(c => col(s"`$c`").cast("string")): _*)
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")
  }
}
