package graft.cube

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{ParamLiteral, Predicates}
import graft.ktk.{DatasetMetadata, Ktk}

/** Multi-dataset "Cube" (star-schema-ish) layer, re-expressing the
  * reference's cube API (kartothek/core/cube/cube.py:121-236,
  * io/eager_cube.py) Spark-first: each cube dataset is a [[Ktk]] dataset
  * named `<uuidPrefix>++<name>`; queries are planned driver-side (condition
  * split + restrictive-dataset classification) and executed as one Catalyst
  * plan — per-dataset pruned scans, dedup-keep-last, then the reference's
  * fixed seed ⋈inner restrictive* ⋈left other* join chain
  * (io_components/cube/query/_group.py:158-192).
  *
  * The reference physically co-locates group joins via its planner; on Spark
  * the shuffle/broadcast machinery replaces that — enrichment tables are
  * usually dimension-sized, so Catalyst broadcasts them (SURVEY §3.2).
  */
final case class CubeDef(
    uuidPrefix: String,
    dimensionColumns: Seq[String],
    partitionColumns: Seq[String],
    seedDataset: String = "seed",
    indexColumns: Seq[String] = Nil,
    suppressIndexOn: Seq[String] = Nil) {
  require(dimensionColumns.nonEmpty, "cube needs >=1 dimension column")
  require(partitionColumns.nonEmpty, "cube needs >=1 partition column")
  def uuid(dataset: String): String = s"$uuidPrefix++$dataset"
}

object Cube {

  /** Create the cube: seed + enrichment datasets, with the reference's
    * consistency checks (api/consistency.py:267-331):
    *  - every dataset carries all partition columns;
    *  - the seed carries all dimension columns; others >=1 shared key;
    *  - payload (non-key) columns must not overlap across datasets
    *    (consistency.py:69-108);
    *  - no physical duplicates on (partition ⊕ dimensionality) keys
    *    (io_components/cube/write.py:268-289);
    *  - seed dimension columns get secondary indices unless suppressed
    *    (cube/write.py:374-380).
    */
  def build(
      spark: SparkSession,
      base: String,
      cube: CubeDef,
      data: Map[String, DataFrame],
      overwrite: Boolean = false): Map[String, DatasetMetadata] = {
    require(data.contains(cube.seedDataset), s"cube build requires seed dataset '${cube.seedDataset}'")
    validate(cube, data, existingPayload = Map.empty)
    // rollback on partial failure (≙ cube/write.py:410-461): a cube must
    // never be discoverable with only some of its datasets committed
    val written = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      data.map { case (name, df) =>
        val md = storeOne(spark, base, cube, name, df, overwrite)
        written += name
        name -> md
      }
    } catch {
      case e: Throwable =>
        written.foreach(n => DatasetMetadata.delete(spark, base, cube.uuid(n)))
        throw e
    }
  }

  /** Add non-seed datasets to an existing cube (≙ extend_cube,
    * io/eager_cube.py:236-323).
    */
  def extend(
      spark: SparkSession,
      base: String,
      cube: CubeDef,
      data: Map[String, DataFrame],
      overwrite: Boolean = false): Map[String, DatasetMetadata] = {
    require(!data.contains(cube.seedDataset), "extend_cube must not write the seed dataset")
    val existing = discover(spark, base, cube)
    val existingPayload = existing.map { case (n, md) =>
      n -> md.schema.fieldNames.toSet.diff((cube.dimensionColumns ++ cube.partitionColumns).toSet)
    }
    validate(cube, data, existingPayload, requireSeed = false)
    data.map { case (name, df) => name -> storeOne(spark, base, cube, name, df, overwrite) }
  }

  private def validate(
      cube: CubeDef,
      data: Map[String, DataFrame],
      existingPayload: Map[String, Set[String]],
      requireSeed: Boolean = true): Unit = {
    val keyCols = (cube.dimensionColumns ++ cube.partitionColumns).toSet
    data.foreach { case (name, df) =>
      val cols = df.columns.toSet
      cube.partitionColumns.foreach(c => require(cols.contains(c),
        s"dataset '$name' misses partition column '$c'"))
      if (name == cube.seedDataset)
        cube.dimensionColumns.foreach(c => require(cols.contains(c),
          s"seed dataset misses dimension column '$c'"))
      else require(cube.dimensionColumns.exists(cols.contains),
        s"dataset '$name' shares no dimension column with the cube")
    }
    // payload-overlap ban across new + existing datasets
    val payloads = data.map { case (n, df) => n -> df.columns.toSet.diff(keyCols) } ++ existingPayload
    val seen = scala.collection.mutable.Map.empty[String, String]
    payloads.toSeq.sortBy(_._1).foreach { case (n, cols) =>
      cols.toSeq.sorted.foreach { c =>
        seen.get(c).foreach(prev => throw new IllegalArgumentException(
          s"Payload column '$c' is exposed by multiple datasets: $prev, $n"))
        seen(c) = n
      }
    }
  }

  private def storeOne(
      spark: SparkSession,
      base: String,
      cube: CubeDef,
      name: String,
      df: DataFrame,
      overwrite: Boolean): DatasetMetadata = {
    val dims = cube.dimensionColumns.filter(df.columns.contains)
    val keys = cube.partitionColumns ++ dims
    // duplicate-cell check (cube/write.py:268-289): one cheap agg before write
    val dup = df.groupBy(keys.map(c => col(s"`$c`")): _*).count().filter(col("count") > 1).limit(1).count()
    if (dup > 0) throw new IllegalArgumentException(
      s"Found duplicate cells by [${keys.mkString(",")}] while writing dataset '$name'")
    val autoIndex =
      if (name == cube.seedDataset)
        cube.dimensionColumns.filterNot(cube.suppressIndexOn.contains)
      else Nil
    val explicit = cube.indexColumns.filter(df.columns.contains)
    Ktk.store(spark, base, cube.uuid(name), df,
      partitionOn = cube.partitionColumns,
      sortBy = dims,
      secondaryIndices = (autoIndex ++ explicit).distinct.filterNot(cube.partitionColumns.contains),
      overwrite = overwrite)
  }

  /** Discover cube datasets by uuid prefix (≙ api/discover.py:87-190). */
  def discover(spark: SparkSession, base: String, cube: CubeDef): Map[String, DatasetMetadata] =
    DatasetMetadata.listDatasets(spark, base)
      .filter(_.startsWith(cube.uuidPrefix + "++"))
      .map(u => u.stripPrefix(cube.uuidPrefix + "++") -> DatasetMetadata.load(spark, base, u))
      .toMap

  /** THE cube query (≙ plan_query + load_group, SURVEY §3.2).
    *
    * Driver-side planning: per dataset, restrict `conditions` to its columns
    * (index-evaluable parts prune files inside [[Ktk.readTable]]); classify
    * non-seed datasets with conditions on their *exclusive payload* as
    * restrictive ⇒ inner join, others left join
    * (query/__init__.py:101-138). Execution: one declarative plan.
    *
    * @param payload output payload columns (default: all); dimension +
    *                partition columns are always included.
    */
  def query(
      spark: SparkSession,
      base: String,
      cube: CubeDef,
      conditions: Predicates = Predicates.empty,
      payload: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      // the reference always returns dimension-ordered output; pipelines
      // feeding another shuffle can skip the global sort (a full range
      // exchange at scale) without changing row content
      sortOutput: Boolean = true): DataFrame = {

    val datasets = discover(spark, base, cube)
    require(datasets.contains(cube.seedDataset), s"cube '${cube.uuidPrefix}' has no seed dataset")
    val keyCols = (cube.dimensionColumns ++ cube.partitionColumns).toSet

    val condCols = conditions.columns
    val allCols = datasets.values.flatMap(_.schema.fieldNames).toSet
    condCols.foreach(c => require(allCols.contains(c), s"condition column '$c' exists in no cube dataset"))
    (payload ++ partitionBy).foreach(c => require(allCols.contains(c), s"column '$c' exists in no cube dataset"))

    // per-dataset load: columns to load = keys ∪ requested payload ∩ schema
    def loadOne(name: String, md: DatasetMetadata): DataFrame = {
      val schemaCols = md.schema.fieldNames.toSet
      val preds = conditions.restrictToColumns(schemaCols).getOrElse(Predicates.empty)
      // condition columns are loaded even when outside the requested payload
      // (the reference filters on any column; projection happens post-filter)
      val wanted =
        if (payload.isEmpty) md.schema.fieldNames.toSeq
        else md.schema.fieldNames.toSeq.filter(c =>
          keyCols.contains(c) || payload.contains(c) || partitionBy.contains(c) || condCols.contains(c))
      // single-commit datasets cannot hold overlay duplicates (the write
      // path rejects duplicate cells per commit) — skip the dedup window,
      // which removes a whole shuffle per dataset from the plan
      val multiCommit = md.partitions.keys.map(md.seqOf).toSet.size > 1
      if (!multiCommit) {
        Ktk.readTableWithMetadata(spark, base, md, columns = wanted, predicates = preds)
      } else {
        val df = Ktk.readTableWithMetadata(spark, base, md, columns = wanted, predicates = preds,
          withOverlayOrder = true)
        val dims = (cube.partitionColumns ++ cube.dimensionColumns).filter(schemaCols.contains)
        dedupKeepLastOrdered(df, dims, Seq(col("__seq").desc, col("__pos").desc))
          .drop("__seq", "__pos")
      }
    }

    // restriction mask includes partition_by columns, mirroring
    // _determine_restrictive_dataset_ids (query/__init__.py:101-138): a
    // partition_by on a non-seed dataset's exclusive payload forces an inner
    // join (null groups would be meaningless)
    val restrictive = restrictiveDatasets(cube,
      datasets.map { case (n, md) => n -> md.schema.fieldNames.toSet },
      condCols ++ partitionBy)
    val seed = loadOne(cube.seedDataset, datasets(cube.seedDataset))
    val others = (datasets - cube.seedDataset).toSeq.sortBy(_._1)

    // fixed join order: inner restrictives first, then left others (semantics-
    // bearing; Spark won't reorder across the outer joins)
    val joined = others.sortBy { case (n, _) => (!restrictive.contains(n), n) }
      .foldLeft(seed) { case (acc, (name, md)) =>
        val right = loadOne(name, md)
        val shared = acc.columns.toSet intersect right.columns.toSet intersect keyCols
        require(shared.nonEmpty, s"dataset '$name' shares no key columns with the seed")
        val how = if (restrictive.contains(name)) "inner" else "left"
        acc.join(right, shared.toSeq.sorted, how)
      }

    val outCols = {
      val keys = (cube.dimensionColumns ++ cube.partitionColumns)
      val pay =
        if (payload.isEmpty) joined.columns.toSeq.filterNot(keys.contains).sorted
        else payload.distinct.filterNot(keys.contains)
      keys ++ pay
    }
    // exact residual re-filter across datasets BEFORE projecting: the
    // reference allows conditions on columns outside the requested payload
    // (query/_intention.py condition cols need not be output cols)
    val filtered = if (conditions.isEmpty) joined else joined.filter(conditions.toColumn)
    val projected = filtered.select(outCols.filter(filtered.columns.contains).map(c => col(s"`$c`")): _*)
    // the reference's output order: dimensions, then partition columns
    val ordered =
      if (sortOutput)
        projected.sort((cube.dimensionColumns ++ cube.partitionColumns).map(c => col(s"`$c`")): _*)
      else projected
    if (partitionBy.nonEmpty) ordered.repartition(partitionBy.map(c => col(s"`$c`")): _*)
      .sortWithinPartitions((partitionBy ++ cube.dimensionColumns).map(c => col(s"`$c`")): _*)
    else ordered
  }

  /** Per-group result splitting (≙ the reference's `partition_by` returning
    * one DataFrame per group, eager_cube.py:378-386): distinct group tuples
    * are collected (group count is user-chosen and small by contract), each
    * group is a filtered view of ONE shared query plan — Spark prunes per
    * group at execution.
    */
  def queryByPartition(
      spark: SparkSession,
      base: String,
      cube: CubeDef,
      partitionBy: Seq[String],
      conditions: Predicates = Predicates.empty,
      payload: Seq[String] = Nil): Seq[(Map[String, Any], DataFrame)] = {
    require(partitionBy.nonEmpty, "queryByPartition requires partition_by columns")
    val full = query(spark, base, cube, conditions, payload, partitionBy = Nil)
    val groups = full.select(partitionBy.map(c => col(s"`$c`")): _*)
      .distinct().collect()
      .map(r => partitionBy.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
      .sortBy(_.toSeq.sortBy(_._1).map(_._2.toString).mkString("|"))
    groups.toSeq.map { values =>
      // one compiled class for every group: values bind by reference
      val cond = values.map { case (c, v) => col(s"`$c`") === ParamLiteral.column(v) }
        .reduce(_ && _)
      values -> full.filter(cond)
    }
  }

  /** Non-seed datasets restricted on their exclusive payload ⇒ inner-join
    * members (query/__init__.py:101-138).
    */
  private[cube] def restrictiveDatasets(
      cube: CubeDef,
      schemas: Map[String, Set[String]],
      condCols: Set[String]): Set[String] = {
    val keyCols = (cube.dimensionColumns ++ cube.partitionColumns).toSet
    schemas.collect {
      case (name, cols) if name != cube.seedDataset &&
        condCols.exists(c => cols.contains(c) && !keyCols.contains(c)) => name
    }.toSet
  }

  /** Dedup keep-LAST on key columns with a deterministic "last": the
    * reference's overlay contract (later-loaded partitions override,
    * _group.py:139-155) pinned to explicit ordering columns — commit
    * sequence + in-file row position when reading Ktk datasets
    * (see DatasetMetadata.partitionSeq), or any caller-supplied order.
    * One window, no driver round-trip.
    */
  def dedupKeepLastOrdered(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    if (keys.isEmpty) return df.dropDuplicates()
    val w = Window.partitionBy(keys.map(c => col(s"`$c`")): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** In-DataFrame keep-last for ad-hoc frames: "last" = later row in the
    * frame's current order, made explicit via a per-partition position.
    */
  def dedupKeepLast(df: DataFrame, keys: Seq[String]): DataFrame =
    dedupKeepLastOrdered(df.withColumn("__pos0", monotonically_increasing_id()),
      keys, Seq(col("__pos0").desc)).drop("__pos0")

  /** Append rows to cube datasets; `removeConditions` (over partition
    * columns) deletes overlapping partitions in the same commit
    * (≙ append_to_cube + remove_partitions, io_components/cube/remove.py).
    */
  def append(
      spark: SparkSession,
      base: String,
      cube: CubeDef,
      data: Map[String, DataFrame],
      removeConditions: Predicates = Predicates.empty): Unit =
    data.foreach { case (name, df) =>
      Ktk.update(spark, base, cube.uuid(name), Some(df), deleteScope = removeConditions)
    }

  /** Delete partitions matched by conditions on partition columns. */
  def removePartitions(
      spark: SparkSession,
      base: String,
      cube: CubeDef,
      datasets: Seq[String],
      conditions: Predicates): Unit =
    datasets.foreach(name => Ktk.update(spark, base, cube.uuid(name), None, deleteScope = conditions))

  def delete(spark: SparkSession, base: String, cube: CubeDef): Unit =
    discover(spark, base, cube).keys.foreach(n => DatasetMetadata.delete(spark, base, cube.uuid(n)))

  /** Copy every cube dataset under a new uuid prefix (≙ copy_cube). */
  def copy(spark: SparkSession, base: String, cube: CubeDef, toPrefix: String): CubeDef = {
    val target = cube.copy(uuidPrefix = toPrefix)
    discover(spark, base, cube).keys.foreach(n =>
      Ktk.copyDataset(spark, base, cube.uuid(n), target.uuid(n)))
    target
  }

  /** Remove untracked files from every cube dataset (≙ cleanup_cube). */
  def cleanup(spark: SparkSession, base: String, cube: CubeDef): Seq[String] =
    discover(spark, base, cube).keys.toSeq.sorted
      .flatMap(n => Ktk.garbageCollect(spark, base, cube.uuid(n)))

  /** Footer stats over all cube datasets (≙ collect_stats). */
  def collectStats(spark: SparkSession, base: String, cube: CubeDef): DataFrame = {
    val dfs = discover(spark, base, cube).keys.toSeq.sorted
      .map(n => Ktk.parquetStats(spark, base, cube.uuid(n)).withColumn("dataset", lit(n)))
    dfs.reduce(_ unionByName _)
      .groupBy("dataset")
      .agg(count(lit(1)).as("files"), sum("rows").as("rows"), sum("row_groups").as("row_groups"))
  }
}
