package graft.ktk

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Predicate}
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, OptimizeIn}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, NumericType, StringType, StructType, TimestampType}

import graft.core.{PredLiteral, PredOp, Predicates}

/** The catalog-level skipping sidecars — secondary index, per-file Bloom
  * filter, zone map — behind ONE build, merge and probe path.
  *
  * Each sidecar is a parquet dir `<uuid>/<kind dir>/<col>.<nonce>.parquet`
  * named by a registry entry in the metadata blob. Coverage is TOTAL over
  * the committed labels (every live file has its rows), so a probe may
  * treat "not returned" as "cannot match". A [[Kind]] supplies only what
  * really differs: its directory, registry field and fsck issue; how fresh
  * rows come from a set of labels; how the old rows of surviving labels are
  * kept; its build/append and canonical layouts; its probe filter; and
  * whether a missing file fails the read (index) or keeps every file
  * (bloom, zone).
  */
private[graft] object Sidecars {

  /** The one fragment bound, fixed: a sidecar dir holds at most this many
    * part files and a snapshot at most this many deletion-vector fragments.
    * The commit that would pass it folds them, inside that same commit
    * ([[Kind.merge]], `Ktk.deletesAfter`) — the LSM / Delta-checkpoint
    * rule that keeps probe fan-in flat however long an append run lasts.
    */
  val MaxFragments = 64

  /** Canonical sidecar rewrites bound their output to this many files, far
    * under [[MaxFragments]], so a fold buys many appends before the next.
    */
  val CanonicalFiles = 4

  /** Part files in the sidecar dir `dir`, from one listing; None when the
    * dir is absent.
    */
  def partFiles(fsys: org.apache.hadoop.fs.FileSystem, dir: Path): Option[Int] =
    try Some(fsys.listStatus(dir).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    })
    catch { case _: java.io.FileNotFoundException => None }

  /** Fresh per-label rows ("units") of each requested column, plus the
    * release of whatever the kind cached to serve them.
    */
  final case class Fresh(units: String => DataFrame, release: () => Unit = () => ())

  sealed abstract class Kind(
      val dir: String,
      val issue: String,
      val noun: String,
      val addOperation: String) {

    def registry(md: DatasetMetadata): Map[String, String]
    def registry(d: VersionDelta): Map[String, String]
    def withRegistry(md: DatasetMetadata, reg: Map[String, String]): DatasetMetadata

    /** A missing index fails the read; a missing bloom or zone keeps every file. */
    def absentFails: Boolean

    /** Fresh units of `labels`, all recorded in snapshot `md`. */
    protected def fresh(spark: SparkSession, base: String, md: DatasetMetadata,
        labels: Seq[String], cols: Seq[String]): Fresh

    /** The old units of `survivors` (a broadcast one-column label frame);
      * per-label rows simply semi-join.
      */
    protected def keep(old: DataFrame, survivors: DataFrame): DataFrame =
      old.join(survivors, Seq("label"), "left_semi")

    /** Units → sidecar rows: `outFiles` 0 for a build, 1 for an appended
      * fragment (one part file, no extra shuffle), [[CanonicalFiles]] for a
      * canonical rewrite; per-label rows only bound the file count.
      */
    protected def layout(units: DataFrame, outFiles: Int): DataFrame =
      if (outFiles > 0) units.coalesce(outFiles) else units

    /** Labels whose rows in the sidecar at `p` may satisfy `l`; None = no pruning. */
    protected def matching(spark: SparkSession, base: String, md: DatasetMetadata, p: Path,
        l: PredLiteral): Option[Set[String]]

    /** Is `l` routed to this kind (beyond the shared partition/null guards)? */
    def covers(md: DatasetMetadata, l: PredLiteral): Boolean = registry(md).contains(l.col)

    def path(base: String, md: DatasetMetadata, column: String): String =
      s"$base/${md.uuid}/$dir/${registry(md)(column)}"

    /** Probe for one literal: the labels that MIGHT match. Index and zone
      * sidecars answer on the driver from [[SidecarRows]] (no Spark job);
      * bloom filters are tested on executors.
      */
    def probe(spark: SparkSession, base: String, md: DatasetMetadata,
        l: PredLiteral): Option[Set[String]] = {
      val p = new Path(path(base, md, l.col))
      if (!absentFails && !DatasetMetadata.fs(spark, base).exists(p)) None
      else matching(spark, base, md, p, l)
    }

    /** Write fresh sidecars over `labels` under the given (column → name)
      * targets. No labels, no file: the registry entry waits for data.
      */
    def build(spark: SparkSession, base: String, md: DatasetMetadata,
        targets: Map[String, String], labels: Seq[String]): Unit = {
      if (targets.isEmpty || labels.isEmpty) return
      val cols = targets.keys.toSeq.sorted
      val f = fresh(spark, base, md, labels, cols)
      try cols.foreach(c => write(spark, base, md, targets(c), layout(f.units(c), 0)))
      finally f.release()
    }

    /** Incremental merge (≙ update_indices, io_components/write.py:283-309)
      * of `parent`'s sidecars into `md`, the snapshot about to commit: its
      * labels are the survivors plus `newLabels`, its registries still the
      * parent's. The whole fragment policy lives here, per column:
      *
      *  - APPEND when every parent label survives and the dir holds fewer
      *    than [[MaxFragments]] part files: the new labels' rows become one
      *    more part file of the current dir, O(batch) per commit.
      *  - FOLD otherwise (the commit drops a label, or the dir is full):
      *    surviving labels keep their rows (a broadcast semi-join, never an
      *    inlined In-list), new labels get fresh ones, and the result lands
      *    canonical in a fresh version-addressed dir of [[CanonicalFiles]].
      *
      * So a dir never passes [[MaxFragments]] part files, and only ever
      * GAINS rows — only rows of labels committed after it was written (or
      * of a commit that lost its race): an older snapshot sharing the dir
      * sees rows of labels it does not reference, which every probe
      * intersects away, and never loses a row of its own. A registered
      * sidecar whose dir is gone is rebuilt from survivors ∪ new labels —
      * merging into nothing would leave the survivors uncovered, which
      * every probe reads as "cannot match". One listing per column decides
      * both presence and fullness. Returns the registry to commit.
      */
    def merge(spark: SparkSession, base: String, parent: DatasetMetadata,
        md: DatasetMetadata, newLabels: Set[String]): Map[String, String] = {
      import spark.implicits._
      val reg = registry(md)
      val cols = reg.keys.toSeq.sorted
      val fsys = DatasetMetadata.fs(spark, base)
      val (added, survivors) = md.partitions.keys.toSeq.sorted.partition(newLabels)
      val dropsLabel = !parent.partitions.keySet.subsetOf(survivors.toSet)
      val parts = cols.map(c => c -> partFiles(fsys, new Path(path(base, md, c)))).toMap
      def source(c: String): Seq[String] = if (parts(c).isDefined) added else survivors ++ added
      val freshBy: Map[Seq[String], Fresh] = cols.groupBy(source).collect {
        case (labels, cs) if labels.nonEmpty => labels -> fresh(spark, base, md, labels, cs)
      }
      try cols.map { c =>
        val add = freshBy.get(source(c)).map(_.units(c))
        if (!dropsLabel && parts(c).exists(_ < MaxFragments)) {
          add.foreach(units => appendFragment(spark, base, md, c, layout(units, 1)))
          c -> reg(c)
        } else {
          val old =
            if (parts(c).isEmpty) None
            else Some(keep(SidecarRows.frame(spark, new Path(path(base, md, c))),
              broadcast(survivors.toDF("label"))))
          (old ++ add).reduceOption(_ unionByName _) match {
            case None => c -> reg(c)
            case Some(units) =>
              val name = Ktk.newSidecarName(c)
              write(spark, base, md, name, layout(units, CanonicalFiles))
              c -> name
          }
        }
      }.toMap
      finally freshBy.values.foreach(_.release())
    }

    private def write(spark: SparkSession, base: String, md: DatasetMetadata,
        name: String, rows: DataFrame): Unit =
      Ktk.atomicSidecarWrite(spark, s"$base/${md.uuid}/$dir", name) { tmp =>
        rows.write.mode(SaveMode.Overwrite).parquet(tmp)
      }

    /** `rows` as extra part files of `column`'s current dir: written under
      * a private dot-named staging dir, then renamed in file by file. A
      * concurrent probe never lists a partial file, and concurrent
      * appenders never share a staging area (Spark's own append would
      * share the dir's `_temporary`).
      */
    private def appendFragment(spark: SparkSession, base: String, md: DatasetMetadata,
        column: String, rows: DataFrame): Unit = {
      val fsys = DatasetMetadata.fs(spark, base)
      val target = new Path(path(base, md, column))
      val staging = new Path(s"$base/${md.uuid}/$dir/.${registry(md)(column)}." +
        s"${java.util.UUID.randomUUID.toString.take(8)}.append")
      try {
        rows.write.mode(SaveMode.Overwrite).parquet(staging.toString)
        fsys.listStatus(staging).foreach { st =>
          val n = st.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".") &&
              !fsys.rename(st.getPath, new Path(target, n)))
            throw new java.io.IOException(s"sidecar fragment rename ${st.getPath} -> $target failed")
        }
      } finally { fsys.delete(staging, true); () }
    }
  }

  private def fileLabel(spark: SparkSession, tableDir: String) =
    Ktk.labelCol(spark, tableDir, input_file_name()).as("label")

  /** Secondary index `(value, partitions: array<string>)` — the Spark-native
    * form of ExplicitSecondaryIndex storage (core/index.py:899-955). Rows
    * are value-sorted, so the probe's value filter prunes row groups. One
    * row per value after a canonical write; appended fragments may spread
    * a value over several rows — readers take the union.
    */
  case object Index extends Kind("indices", "missing_index", "index", "ADD INDEX") {
    def registry(md: DatasetMetadata): Map[String, String] = Option(md.indices).getOrElse(Map.empty)
    def registry(d: VersionDelta): Map[String, String] = Option(d.indices).getOrElse(Map.empty)
    def withRegistry(md: DatasetMetadata, reg: Map[String, String]): DatasetMetadata =
      md.copy(indices = reg)
    def absentFails: Boolean = true

    protected def fresh(spark: SparkSession, base: String, md: DatasetMetadata,
        labels: Seq[String], cols: Seq[String]): Fresh =
      Fresh(c => SnapshotScan(spark, base, md, labels)
        .select(col(s"`$c`").as("value"), fileLabel(spark, md.tableDir(base))))

    override protected def keep(old: DataFrame, survivors: DataFrame): DataFrame =
      super.keep(old.select(col("value"), explode(col("partitions")).as("label")), survivors)

    /** (value, label) pairs → deterministic (value, partitions) rows. */
    override protected def layout(pairs: DataFrame, outFiles: Int): DataFrame = {
      val agg = pairs
        .where(col("value").isNotNull) // nulls are not indexable (core/index.py:83-86)
        .groupBy("value")
        .agg(sort_array(collect_set(col("label"))).as("partitions"))
      (if (outFiles > 1) agg.repartition(outFiles, col("value")) else super.layout(agg, outFiles))
        .sortWithinPartitions("value")
    }

    /** The labels of every row whose value satisfies `l`, on the driver,
      * decided by [[rowFilter]] as a DataFrame filter on the sidecar would.
      */
    protected def matching(spark: SparkSession, base: String, md: DatasetMetadata, p: Path,
        l: PredLiteral): Option[Set[String]] = {
      val labels = Set.newBuilder[String]
      SidecarRows.scan(spark, base, md.uuid, p) { schema =>
        val pred = rowFilter(spark, schema, Predicates(Seq(Seq(l.copy(col = "value")))).toColumn)
        val parts = schema.fieldIndex("partitions")
        row => if (pred(row) && !row.isNullAt(parts)) {
          val a = row.getArray(parts)
          var i = 0
          while (i < a.numElements()) { labels += a.getUTF8String(i).toString; i += 1 }
        }
      }
      Some(labels.result())
    }
  }

  /** Per-file Bloom filters `(label, bloom)` for equality/IN skipping on
    * high-cardinality columns where zone ranges are too wide and an index
    * too big. A file with no non-null value gets a NULL bloom, which no
    * non-null-matching literal — the only kind routed here — can match.
    */
  case object Bloom extends Kind("blooms", "missing_bloom", "bloom", "ADD BLOOM") {
    def registry(md: DatasetMetadata): Map[String, String] = md.bloomRegistry
    def registry(d: VersionDelta): Map[String, String] = Option(d.blooms).getOrElse(Map.empty)
    def withRegistry(md: DatasetMetadata, reg: Map[String, String]): DatasetMetadata =
      md.copy(blooms = reg)
    def absentFails: Boolean = false

    override def covers(md: DatasetMetadata, l: PredLiteral): Boolean =
      (l.op == PredOp.Eq || l.op == PredOp.In) && super.covers(md, l)

    /** Scan only the column + file name, hash values with xxhash64 (the
      * probe hashes literals identically), fold each file's hashes into a
      * filter sized to its DISTINCT count. The shuffle moves (label, long)
      * pairs — O(rows × 8 bytes), never values.
      */
    protected def fresh(spark: SparkSession, base: String, md: DatasetMetadata,
        labels: Seq[String], cols: Seq[String]): Fresh = Fresh { c =>
      import spark.implicits._
      SnapshotScan(spark, base, md, labels)
        .select(col(s"`$c`").as("v"), fileLabel(spark, md.tableDir(base)))
        .select(col("label"), when(col("v").isNotNull, xxhash64(col("v"))).as("h"))
        .as[(String, java.lang.Long)]
        .groupByKey(_._1)
        .mapGroups { (label, it) =>
          val hs = new java.util.HashSet[java.lang.Long]()
          it.foreach { case (_, h) => if (h != null) { hs.add(h); () } }
          if (hs.isEmpty) (label, null: Array[Byte])
          else {
            val n = math.min(Ktk.BloomMaxItems, math.max(Ktk.BloomMinItems, hs.size.toLong))
            val bf = org.apache.spark.util.sketch.BloomFilter.create(n, Ktk.BloomFpp)
            hs.forEach(h => bf.putLong(h))
            val bos = new java.io.ByteArrayOutputStream()
            bf.writeTo(bos)
            (label, bos.toByteArray)
          }
        }
        .toDF("label", "bloom")
    }

    /** Bloom filters are tested where they live: a file's filter can reach
      * ~12 MB at [[Ktk.BloomMaxItems]], too much to pull to the driver.
      */
    protected def matching(spark: SparkSession, base: String, md: DatasetMetadata, p: Path,
        l: PredLiteral): Option[Set[String]] = {
      val vals = l.op match {
        case PredOp.Eq => Seq(l.value)
        case _         => l.value.asInstanceOf[Seq[Any]].filter(_ != null)
      }
      // every literal must hash (a failed cast means the build-side
      // hashing cannot be mirrored) or the probe is unsound
      literalHashes(spark, md.schema(l.col).dataType, vals).map { hashes =>
        val hs = hashes.toArray
        val might = udf { (bytes: Array[Byte]) =>
          bytes != null && {
            val bf = org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(bytes))
            hs.exists(bf.mightContainLong)
          }
        }
        // the fixed row shape spares a schema-inference job
        spark.read.schema("label string, bloom binary").parquet(p.toString)
          .filter(might(col("bloom"))).select(col("label"))
          .collect().map(_.getString(0)).toSet
      }
    }

    /** xxhash64 of the literals AT THE COLUMN'S TYPE — bit-for-bit the
      * build side's `xxhash64(col)` — evaluated on the driver from the
      * analyzed projection, no Spark job. None when any cast fails or yields
      * null.
      */
    private[ktk] def literalHashes(spark: SparkSession, dt: org.apache.spark.sql.types.DataType,
        vals: Seq[Any]): Option[Seq[Long]] =
      try {
        val cs = vals.map(v => lit(v).cast(dt))
        val Project(list, _) = analyzed(spark, new StructType())(
          _.select(cs ++ cs.map(xxhash64(_)): _*)): @unchecked
        val (cast, hashes) = list.map(_.eval(InternalRow.empty)).splitAt(vals.size)
        if (vals.isEmpty || cast.contains(null)) None
        else Some(hashes.map(_.asInstanceOf[Long]))
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Zone maps `(label, mn, mx)` — per-file min/max as strings (null
    * mn/mx = all-null file), ≙ Parquet zone maps lifted into the catalog.
    * All zone columns share ONE aggregation scan. Legacy blobs carry the
    * ranges inline (`zoneMaps`); those columns probe on the driver until
    * [[migrateInlineZones]] moves them out.
    */
  case object Zone extends Kind("zones", "missing_zone", "zone-map", "ADD ZONEMAPS") {
    def registry(md: DatasetMetadata): Map[String, String] = md.zoneRegistry
    def registry(d: VersionDelta): Map[String, String] = Option(d.zones).getOrElse(Map.empty)
    def withRegistry(md: DatasetMetadata, reg: Map[String, String]): DatasetMetadata =
      md.copy(zones = reg)
    def absentFails: Boolean = false

    override def covers(md: DatasetMetadata, l: PredLiteral): Boolean = md.zoneColumns.contains(l.col)

    protected def fresh(spark: SparkSession, base: String, md: DatasetMetadata,
        labels: Seq[String], cols: Seq[String]): Fresh = {
      val aggs = cols.flatMap(c => Seq(
        min(col(s"`$c`")).cast("string").as(s"__min_$c"),
        max(col(s"`$c`")).cast("string").as(s"__max_$c")))
      val agg0 = SnapshotScan(spark, base, md, labels)
        .groupBy(fileLabel(spark, md.tableDir(base))).agg(aggs.head, aggs.tail: _*)
      // several columns share the one aggregation; a single one needs no
      // cache (whose build would be one more job)
      val agg =
        if (cols.size > 1) agg0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else agg0
      Fresh(c => agg.select(col("label"), col(s"__min_$c").as("mn"), col(s"__max_$c").as("mx")),
        () => { agg.unpersist(); () })
    }

    /** The ranges decide on the driver: one [[checkFn]] pass over the rows. */
    protected def matching(spark: SparkSession, base: String, md: DatasetMetadata, p: Path,
        l: PredLiteral): Option[Set[String]] = {
      val check = checkFn(l, md.schema(l.col).dataType)
      val labels = Set.newBuilder[String]
      SidecarRows.scan(spark, base, md.uuid, p) { schema =>
        val Seq(lb, mn, mx) = Seq("label", "mn", "mx").map(schema.fieldIndex)
        row => if (!row.isNullAt(mn) && !row.isNullAt(mx) &&
            check(row.getUTF8String(mn).toString, row.getUTF8String(mx).toString))
          labels += row.getUTF8String(lb).toString
      }
      Some(labels.result())
    }

    /** Legacy inline ranges evaluate on the driver; a label without
      * recorded stats is kept, an all-null one (empty range) dropped.
      */
    override def probe(spark: SparkSession, base: String, md: DatasetMetadata,
        l: PredLiteral): Option[Set[String]] =
      if (registry(md).contains(l.col)) super.probe(spark, base, md, l)
      else {
        val zm = md.inlineZoneMaps(l.col)
        val check = checkFn(l, md.schema(l.col).dataType)
        Some(md.partitions.keySet.filter { lbl =>
          zm.get(lbl) match {
            case None                 => true
            case Some(s) if s.isEmpty => false
            case Some(s)              => check(s.head, s(1))
          }
        })
      }

    /** The key under which a zone column of type `dt` orders `mn`, `mx`
      * and the literal — its own type's order, as Spark compares them:
      * strings as strings (by code point, no date or number parsing),
      * numerics as doubles, dates and timestamps as epoch millis (from
      * the `cast(_ as string)` rendering). None for any other type, and a
      * key that cannot be formed throws: both keep the file.
      */
    private def zoneKey(dt: DataType): Option[Any => Any] = dt match {
      case StringType => Some { case s: String => s }
      case _: NumericType => Some(Predicates.toDouble)
      case DateType | TimestampType => Some {
        case s: String =>
          try java.sql.Timestamp.valueOf(s).getTime
          catch { case _: IllegalArgumentException => java.sql.Date.valueOf(s).getTime }
        case d: java.util.Date => d.getTime
        case other => Predicates.toDouble(other)
      }
      case _ => None
    }

    /** May rows in [mn, mx] satisfy the literal, whose value (the sorted
      * values, for IN) is already keyed as `lit`? CONSERVATIVE: any
      * comparison failure keeps the file.
      */
    private def mayMatch(op: PredOp, lit: IndexedSeq[Any], key: Any => Any)(
        mn0: String, mx0: String): Boolean = {
      import PredOp._
      val cmp = Predicates.compare _
      try {
        val (mn, mx) = (key(mn0), key(mx0))
        op match {
          case Eq => cmp(lit(0), mn) >= 0 && cmp(lit(0), mx) <= 0
          case Ne => !(cmp(mn, mx) == 0 && cmp(lit(0), mn) == 0)
          case Lt => cmp(mn, lit(0)) < 0
          case Le => cmp(mn, lit(0)) <= 0
          case Gt => cmp(mx, lit(0)) > 0
          case Ge => cmp(mx, lit(0)) >= 0
          case In =>
            // least value >= mn, then test <= mx: O(log keys) per file
            var lo = 0; var hi = lit.size
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (cmp(lit(mid), mn) < 0) lo = mid + 1 else hi = mid
            }
            lo < lit.size && cmp(lit(lo), mx) <= 0
        }
      } catch { case _: Exception => true }
    }

    /** Range check for one literal on a zone column of type `dt`. The
      * literal converts to the column's key once (an IN list is sorted
      * once); a literal that does not convert keeps every file.
      */
    private[ktk] def checkFn(l: PredLiteral, dt: DataType): (String, String) => Boolean =
      zoneKey(dt) match {
        case None => (_, _) => true
        case Some(key) =>
          try {
            val lit = l.op match {
              case PredOp.In => l.value.asInstanceOf[Seq[Any]].filter(_ != null)
                .map(key).sortWith(Predicates.compare(_, _) < 0).toIndexedSeq
              case _ => IndexedSeq(key(l.value))
            }
            mayMatch(l.op, lit, key)
          } catch { case _: Exception => (_, _) => true }
      }

    /** A partition value against `l` in its column's type `dt`: the
      * one-point range [v, v] through [[checkFn]], so a literal compares
      * as Spark's filter does ("25" > "3" on an int column) and one that
      * does not convert keeps the file for the residual filter. Null
      * values and literals, and types without a zone key, keep
      * [[Predicates.evalLiteral]]'s rule.
      */
    private[ktk] def valueCheck(l: PredLiteral, dt: DataType): String => Boolean =
      if (l.value == null || zoneKey(dt).isEmpty) v => Predicates.evalLiteral(l, v)
      else {
        val check = checkFn(l, dt)
        v => if (v == null) Predicates.evalLiteral(l, v) else check(v, v)
      }
  }

  val kinds: Seq[Kind] = Seq(Index, Bloom, Zone)

  /** `f` over an empty relation of `schema`, analyzed and never executed:
    * Spark's own resolution, type coercion and ANSI casts for expressions
    * the driver then evaluates itself.
    */
  private def analyzed(spark: SparkSession, schema: StructType)(
      f: DataFrame => DataFrame): LogicalPlan =
    f(GraftBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema))))
      .queryExecution.analyzed

  /** `cond` over rows of `schema`, decided as a DataFrame filter decides
    * it: analyzed against the schema, then the optimizer's constant folding
    * and IN-to-InSet rewrite, so coercion, ANSI cast errors and null
    * handling are Spark's. It is interpreted, for the driver's few rows.
    */
  private[ktk] def rowFilter(spark: SparkSession, schema: StructType,
      cond: org.apache.spark.sql.Column): InternalRow => Boolean = {
    val Filter(c, child) =
      OptimizeIn(ConstantFolding(analyzed(spark, schema)(_.filter(cond)))): @unchecked
    val pred = Predicate.createInterpreted(BindReferences.bindReference(c, child.output))
    pred.initialize(0)
    pred.eval
  }

  /** The sidecar columns a writer asks for, in [[kinds]] order. */
  def wanted(indices: Seq[String], blooms: Seq[String], zones: Seq[String]): Seq[(Kind, Seq[String])] =
    Seq(Index -> indices, Bloom -> blooms, Zone -> zones)

  /** Every column some sidecar (or legacy inline zone map) covers. */
  def columns(md: DatasetMetadata): Set[String] =
    kinds.flatMap(_.registry(md).keySet).toSet ++ md.inlineZoneMaps.keySet

  /** `md` with each kind's registry replaced by `f(kind, registry)`. */
  def mapRegistries(md: DatasetMetadata)(
      f: (Kind, Map[String, String]) => Map[String, String]): DatasetMetadata =
    kinds.foldLeft(md)((acc, k) => k.withRegistry(acc, f(k, k.registry(md))))

  /** `md` with no pruning sidecars at all (snapshot reads whose canonical
    * sidecars may hold post-snapshot content).
    */
  def without(md: DatasetMetadata): DatasetMetadata =
    mapRegistries(md)((_, _) => Map.empty).copy(zoneMaps = Map.empty)

  /** Null-matching literals never prune: nulls are neither indexed nor
    * visible to min/max stats or blooms — leave them to the residual filter.
    */
  def probeable(l: PredLiteral): Boolean = l.op match {
    case PredOp.Eq => l.value != null
    case PredOp.In => l.value == null || !l.value.asInstanceOf[Seq[Any]].contains(null)
    case _         => true
  }

  /** Validate, build over `md`'s labels and register the wanted sidecars. */
  def build(spark: SparkSession, base: String, md: DatasetMetadata,
      wanted: Seq[(Kind, Seq[String])]): DatasetMetadata = {
    val fields = md.schema.fieldNames.toSet
    wanted.foreach { case (k, cols) =>
      cols.foreach(c => require(fields(c), s"${k.noun} column '$c' not in schema"))
    }
    val labels = Option(md.partitions).getOrElse(Map.empty[String, Long]).keys.toSeq.sorted
    wanted.foldLeft(md) { case (acc, (k, cols)) =>
      val targets = cols.map(c => c -> Ktk.newSidecarName(c)).toMap
      k.build(spark, base, md, targets, labels)
      k.withRegistry(acc, k.registry(acc) ++ targets)
    }
  }

  /** Register + build sidecars of one kind on an EXISTING dataset. */
  def add(spark: SparkSession, base: String, uuid: String, k: Kind,
      columns: Seq[String]): DatasetMetadata = {
    val md = migrateInlineZones(spark, base, DatasetMetadata.load(spark, base, uuid))
    DatasetMetadata.store(spark, base, build(spark, base, md, Seq(k -> columns)),
      parentMd = Some(md), operation = k.addOperation)
  }

  /** Merge every kind (see [[Kind.merge]]); `md` is the snapshot about to
    * commit on top of `parent`, still carrying the parent's registries.
    * Returns `md` with the registries to commit.
    */
  def merge(spark: SparkSession, base: String, parent: DatasetMetadata, md: DatasetMetadata,
      newLabels: Set[String]): DatasetMetadata =
    kinds.foldLeft(md) { (acc, k) =>
      val reg = k.merge(spark, base, parent, md, newLabels)
      if (reg == k.registry(acc)) acc else k.withRegistry(acc, reg)
    }

  /** Migrate LEGACY inline zone maps (pre-sidecar blobs) to sidecar form.
    * Runs on the first mutating op against an old dataset; the returned
    * metadata is committed by the caller's single blob put.
    */
  def migrateInlineZones(
      spark: SparkSession, base: String, md: DatasetMetadata): DatasetMetadata = {
    val inline = md.inlineZoneMaps
    if (inline.isEmpty) return md
    import spark.implicits._
    val names = inline.toSeq.sortBy(_._1).map { case (c, perLabel) =>
      val rows = perLabel.toSeq.map { case (l, s) =>
        if (s == null || s.isEmpty) (l, null: String, null: String)
        else (l, s.head, s(1))
      }
      val name = Ktk.newSidecarName(c)
      Ktk.atomicSidecarWrite(spark, s"$base/${md.uuid}/${Zone.dir}", name) { tmp =>
        rows.toDF("label", "mn", "mx").repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(tmp)
      }
      c -> name
    }
    Zone.withRegistry(md.copy(zoneMaps = Map.empty), Zone.registry(md) ++ names)
  }
}
