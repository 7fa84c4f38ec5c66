package graft.ktk

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.UrlCodec

/** Dataset catalog metadata, the Spark-side equivalent of
  * `DatasetMetadataBase` (kartothek/core/dataset.py:62-96): uuid, explicit
  * partition list (label → relative file path), partition keys, secondary
  * index registry, schema (`_common_metadata` equivalent, stored as Spark
  * StructType JSON), and free-form user metadata.
  *
  * Storage layout (≙ docs/spec/storage_layout.rst):
  * {{{
  *   <base>/<uuid>.by-dataset-metadata.json        // THE single-blob commit point
  *   <base>/<uuid>/table/<k1>=<v1>/.../part-*.parquet
  *   <base>/<uuid>/indices/<column>.parquet        // (value, partitions array<string>)
  * }}}
  */
final case class DatasetMetadata(
    uuid: String,
    metadataVersion: Int = 4,
    partitionKeys: Seq[String] = Nil,
    // label (relative file path under <uuid>/table/) → byte size
    partitions: Map[String, Long] = Map.empty,
    // label → commit sequence number; later commits override earlier ones in
    // overlay (keep-last) reads. This pins the reference's "later-loaded
    // partitions win" contract (_group.py:139-144) to commit order, which
    // Spark's random part-file names cannot provide.
    partitionSeq: Map[String, Long] = Map.empty,
    // indexed column → relative index file path under <uuid>/indices/
    indices: Map[String, String] = Map.empty,
    // LEGACY inline zone maps: column → label → [min, max] strings. Older
    // blobs carry ranges inline; new writes keep the blob O(#files) labels
    // only and store ranges in the `zones` sidecar registry below. Read
    // paths honor both; the first update/compact migrates inline → sidecar.
    zoneMaps: Map[String, Map[String, Seq[String]]] = Map.empty,
    // zone-map sidecar registry: column → relative parquet path under
    // <uuid>/zones/ holding one (label, mn, mx) row per data file (null
    // mn/mx = all-null file). Metadata-level range skipping: files whose
    // [min, max] excludes a predicate are never SCHEDULED. Same pattern as
    // `blooms` — the catalog blob carries only this registry, so the commit
    // object never inlines ranges; probes read the rows on the driver.
    zones: Map[String, String] = Map.empty,
    // per-file Bloom filters: column → relative sidecar path under
    // <uuid>/blooms/. Equality/IN data skipping on high-cardinality columns
    // where zone ranges are too wide and a full secondary index too big:
    // the sidecar holds one (label, bloom bytes) row per file, the catalog
    // blob only this registry — probes test the filters on executors.
    blooms: Map[String, String] = Map.empty,
    // deletion-vector fragments (Delta/Iceberg merge-on-read row-level
    // deletes): ordered list of immutable parquet fragments under
    // <uuid>/deletes/, each holding (label, pos) rows — pos is the row's
    // `_metadata.row_index` within its (immutable) data file. A row is
    // deleted iff ANY fragment lists it, so a delete/merge commit appends
    // ONE fragment name here — O(batch) commit bytes regardless of how many
    // deletes have accumulated — and time travel reads exactly the
    // fragment list of its snapshot. Fragments canonicalize (and deleted
    // rows physically disappear) on compact / clusterZOrder /
    // materializeDeletes rewrites.
    deletes: Seq[String] = Nil,
    schemaJson: String = "",
    metadata: Map[String, String] = Map.empty) {

  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** Commit version this blob was stored at (0 = legacy, pre-versioning). */
  def version: Long =
    metadata.get(DatasetMetadata.VersionKey).map(_.toLong).getOrElse(0L)

  def tableDir(base: String): String = s"$base/$uuid/table"

  def fileFor(base: String, label: String): String = s"${tableDir(base)}/$label"

  def seqOf(label: String): Long =
    // Jackson deserializes the erased Map[String, Long] values as the
    // narrowest integral type; widen via Number instead of unboxing
    Option(partitionSeq).map(_.asInstanceOf[Map[String, Any]]).flatMap(_.get(label)) match {
      case Some(num: Number) => num.longValue()
      case Some(other)       => other.toString.toLong
      case None              => 0L
    }

  /** Byte size of a partition label, widening-safe like [[seqOf]] (Jackson
    * narrows integral map values on deserialization).
    */
  def sizeOf(label: String): Long =
    Option(partitions).map(_.asInstanceOf[Map[String, Any]]).flatMap(_.get(label)) match {
      case Some(num: Number) => num.longValue()
      case Some(other)       => other.toString.toLong
      case None              => 0L
    }

  /** Decode the Hive-style key=value pairs of one partition label. */
  def partitionValues(label: String): Map[String, String] =
    UrlCodec.decodePartitionPath(label).toMap

  def indexPath(base: String, column: String): String =
    s"$base/$uuid/indices/${indices(column)}"

  /** Bloom registry, null-safe against pre-bloom metadata blobs (Jackson
    * leaves absent fields null rather than applying case-class defaults).
    */
  def bloomRegistry: Map[String, String] = Option(blooms).getOrElse(Map.empty)

  def bloomPath(base: String, column: String): String =
    s"$base/$uuid/blooms/${bloomRegistry(column)}"

  /** Zone sidecar registry, null-safe against pre-zones metadata blobs. */
  def zoneRegistry: Map[String, String] = Option(zones).getOrElse(Map.empty)

  def zonePath(base: String, column: String): String =
    s"$base/$uuid/zones/${zoneRegistry(column)}"

  /** Legacy inline zone maps, null-safe. */
  def inlineZoneMaps: Map[String, Map[String, Seq[String]]] =
    Option(zoneMaps).getOrElse(Map.empty)

  /** Deletion-vector fragment list, null-safe against pre-DV blobs. */
  def deleteFragments: Seq[String] = Option(deletes).getOrElse(Nil)

  def deletePath(base: String, name: String): String =
    s"$base/$uuid/${DatasetMetadata.DeletesDirName}/$name"

  /** All columns with zone-range skipping available (sidecar or legacy). */
  def zoneColumns: Set[String] = zoneRegistry.keySet ++ inlineZoneMaps.keySet
}

/** A commit raced another writer and lost: the version it tried to claim
  * was already written. Reload the dataset and re-apply the change.
  */
final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** One commit's O(delta) action record (`_versions/v<n>.delta.json`) — the
  * Delta-Lake-style log entry that keeps commit cost independent of total
  * file count: only the labels this commit ADDED or REMOVED are listed;
  * everything catalog-small (registries, schema, metadata, partition keys)
  * rides along wholesale. Applying it to the parent snapshot reproduces the
  * commit's full [[DatasetMetadata]]; every `CheckpointEvery`-th commit
  * (and v1) writes a full snapshot instead, bounding replay depth.
  */
final case class VersionDelta(
    uuid: String = "",
    parent: Long = 0L,
    partitionKeys: Seq[String] = Nil,
    adds: Map[String, Long] = Map.empty,
    addSeq: Map[String, Long] = Map.empty,
    removes: Seq[String] = Nil,
    indices: Map[String, String] = Map.empty,
    zoneMaps: Map[String, Map[String, Seq[String]]] = Map.empty,
    zones: Map[String, String] = Map.empty,
    blooms: Map[String, String] = Map.empty,
    deletes: Seq[String] = Nil,
    schemaJson: String = "",
    metadata: Map[String, String] = Map.empty,
    // SELF-CONTAINED record: `adds`/`addSeq` are the COMPLETE partition
    // set, not a diff — replay treats it as a chain terminator, like a
    // checkpoint that happens to live at the delta key. Written when a
    // non-checkpoint commit cannot read its parent chain (vacuumed by an
    // aggressive gc, partially copied store): the CLAIM key must stay a
    // pure function of the version number — two racers for version n must
    // collide on the SAME create-no-overwrite key — so the degraded writer
    // cannot switch to the checkpoint key. (Jackson reads a missing field
    // as the primitive default `false`, so pre-upgrade records replay
    // unchanged.)
    full: Boolean = false)

object DatasetMetadata {
  val Suffix = ".by-dataset-metadata.json"

  /** Deletion-vector fragment directory under the dataset root. */
  val DeletesDirName = "deletes"

  /** Commit version of a blob, stamped into `metadata` on every store —
    * the monotonically increasing snapshot id time travel addresses.
    */
  val VersionKey = "graft.version"

  /** Comma-joined sort columns the dataset's files are sorted by within
    * partitions (recorded by store/update when they sort). Maintenance
    * rewrites (compact / materializeDeletes) re-apply it so row-group
    * stats and zone-map ranges stay tight after file merges.
    */
  val SortByKey = "graft.sort_by"

  /** High watermark of assigned commit sequence numbers. Seq numbers drive
    * overlay (keep-last) ordering and the change feed's rewrite detection;
    * the watermark keeps them MONOTONE even when a delete scope removes the
    * newest labels before an append.
    */
  val SeqHwmKey = "graft.seq_hwm"

  /** Stamped by [[Ktk.rollback]] with the rollback COMMIT's own version
    * number (plus [[RollbackOfKey]] = the restored target). Because commit
    * metadata is inherited by later commits, a version `v` is a rollback
    * commit iff its metadata has `RollbackCommitKey == v` — inherited
    * copies carry an OLDER version number and don't count. This is the
    * change-feed consumer's re-sync signal: a rollback restores content
    * the feed reports only as removes.
    */
  val RollbackCommitKey = "graft.rollback_commit"
  val RollbackOfKey = "graft.rollback_of"

  /** Operation attribution for `history` (Delta's DESCRIBE HISTORY
    * `operation` column): [[store]] stamps the caller-provided verb plus
    * the commit's own version number. Because commit metadata is
    * INHERITED by later commits, history reports the operation for
    * version `v` only when `OperationCommitKey == v` — inherited copies
    * carry an older number and display as null, so a commit path that
    * forgets to pass a verb shows blank, never a stale label.
    */
  val OperationKey = "graft.operation"
  val OperationCommitKey = "graft.operation_commit"

  /** In-commit timestamp (epoch millis), stamped by [[store]] as
    * `max(wall clock, parent stamp + 1)` — STRICTLY MONOTONE along the
    * version line (Delta's in-commit-timestamp rule), so `TIMESTAMP AS OF`
    * resolution is deterministic even for same-millisecond commits and
    * survives operations that disturb record mtimes (dataset copy, rsync,
    * object-store migration). `history`/`versionAtTimestamp` prefer it and
    * fall back to the record's filesystem mtime for pre-stamp commits.
    */
  val CommitTsKey = "graft.commit_ts_ms"

  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def metadataKey(base: String, uuid: String): String = s"$base/$uuid$Suffix"

  /** Bounded LRU of parsed snapshots keyed by `(base, uuid, version)` — the
    * Spark-side equivalent of the reference's `DatasetFactory`
    * metadata cache (core/factory.py:97-134). Commit records are IMMUTABLE
    * once written, so a parsed snapshot is valid for as long as its record
    * exists: [[load]] reads only the ~100-byte latest pointer and reuses
    * the cached snapshot when the pointed-at version is unchanged — an
    * unchanged pointer costs ONE tiny get, zero record reads, zero
    * listings. Explicitly invalidated where records are destroyed:
    * [[delete]], gc's record pruning, and `createEmpty(overwrite)` (the
    * one writer path that restarts a version line in place).
    *
    * Bounded by WEIGHT (total cached partition labels), not entry count: a
    * snapshot of a million-file dataset is ~100 MB of driver heap, so a
    * count-only bound could pin tens of GB. Eviction drops
    * least-recently-used entries until the label total fits — one huge
    * dataset still caches (a single over-weight entry is allowed, the map
    * just holds nothing else), which is the Delta/Iceberg
    * one-snapshot-per-table behavior.
    */
  private val MaxCacheEntries = 256
  private val MaxCacheWeight = 2_000_000L // total partition labels resident
  private def entryWeight(md: DatasetMetadata): Long =
    16L + Option(md.partitions).map(_.size.toLong).getOrElse(0L)
  private var cacheWeight = 0L
  private val snapshotCache: java.util.LinkedHashMap[(String, String, Long), DatasetMetadata] =
    new java.util.LinkedHashMap[(String, String, Long), DatasetMetadata](64, 0.75f, true)

  private[ktk] def cacheGet(k: (String, String, Long)): DatasetMetadata =
    snapshotCache.synchronized { snapshotCache.get(k) }

  /** (entries, total label weight) — test observability for the bound. */
  private[ktk] def cacheStats: (Int, Long) =
    snapshotCache.synchronized { (snapshotCache.size(), cacheWeight) }

  private[ktk] def cachePut(k: (String, String, Long), md: DatasetMetadata): Unit =
    snapshotCache.synchronized {
      val prev = snapshotCache.put(k, md)
      cacheWeight += entryWeight(md) - (if (prev == null) 0L else entryWeight(prev))
      val it = snapshotCache.entrySet().iterator()
      while ((cacheWeight > MaxCacheWeight || snapshotCache.size() > MaxCacheEntries)
          && snapshotCache.size() > 1 && it.hasNext) {
        val eldest = it.next()
        if (eldest.getKey != k) { cacheWeight -= entryWeight(eldest.getValue); it.remove() }
      }
    }

  /** Drop every cached snapshot of one dataset, and its cached sidecar
    * rows — required whenever its version line is destroyed or restarted
    * (delete, overwrite-recreate).
    */
  def invalidateCache(base: String, uuid: String): Unit = snapshotCache.synchronized {
    val it = snapshotCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == base && e.getKey._2 == uuid) {
        cacheWeight -= entryWeight(e.getValue)
        it.remove()
      }
    }
    SidecarRows.invalidate(base, uuid)
  }

  /** Drop one cached version — gc calls this for each pruned record so a
    * post-gc `loadVersion` fails loudly instead of answering from cache.
    */
  private[graft] def uncacheVersion(base: String, uuid: String, v: Long): Unit =
    snapshotCache.synchronized {
      val prev = snapshotCache.remove((base, uuid, v))
      if (prev != null) cacheWeight -= entryWeight(prev)
    }

  // Planning-cost observability (tests assert on deltas of these): every
  // commit-record read, `_versions` listing, and pointer read counts once.
  private[graft] val recordReads = new java.util.concurrent.atomic.AtomicLong
  private[graft] val listingReads = new java.util.concurrent.atomic.AtomicLong
  private[graft] val pointerReads = new java.util.concurrent.atomic.AtomicLong
  private[graft] val cacheHits = new java.util.concurrent.atomic.AtomicLong

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(hadoopConf(spark))

  private def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** Replace `key` with `tmp` ATOMICALLY where the filesystem can
    * (`FileContext.rename(..., Options.Rename.OVERWRITE)` — atomic on
    * HDFS and local): no window in which `key` is absent, so a crash
    * mid-swap never loses the blob. Object stores without FileContext
    * fall back to delete→rename — non-atomic but last-writer-wins at the
    * blob level.
    */
  private[graft] def atomicReplace(
      spark: SparkSession, filesystem: FileSystem, tmp: Path, key: Path): Unit = {
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        key.toUri, hadoopConf(spark))
      fc.rename(filesystem.makeQualified(tmp), filesystem.makeQualified(key),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException =>
        if (filesystem.exists(key)) filesystem.delete(key, false)
        if (!filesystem.rename(tmp, key))
          throw new java.io.IOException(s"Failed to atomically replace $key")
    }
  }

  def versionsDir(base: String, uuid: String): String = s"$base/$uuid/_versions"

  /** Full-snapshot (checkpoint) blob of commit `v` — bit-compatible with
    * the pre-delta-log format, so legacy version files ARE checkpoints.
    */
  def versionKey(base: String, uuid: String, v: Long): String =
    f"${versionsDir(base, uuid)}/v$v%08d.json"

  /** O(delta) action record of commit `v` (see [[VersionDelta]]). */
  def versionDeltaKey(base: String, uuid: String, v: Long): String =
    f"${versionsDir(base, uuid)}/v$v%08d.delta.json"

  /** Every `CheckpointEvery`-th commit (and v1) writes a full snapshot;
    * the rest write O(delta) records — replay depth is bounded by this.
    */
  val CheckpointEvery: Int = 10

  def isCheckpointVersion(v: Long): Boolean = v == 1L || v % CheckpointEvery == 0L

  /** One `_versions` listing: which versions have a checkpoint record
    * (`full`) or a delta record (`delta`), and each version's EARLIEST
    * record mtime — the original commit, when a later checkpoint of the
    * same version exists. Chain walks consult it instead of probing
    * record existence one by one (each a HEAD round-trip on an object
    * store).
    */
  private[graft] final case class VersionLog(
      full: Set[Long], delta: Set[Long], mtimes: Map[Long, Long]) {
    /** Every listed version, ascending. */
    lazy val versions: Seq[Long] = (full ++ delta).toSeq.sorted
    def has(v: Long): Boolean = full(v) || delta(v)
  }

  /** List `_versions` once (counted in [[listingReads]]). O(#versions),
    * bounded by [[graft.ktk.Ktk.garbageCollect]]'s retention pruning.
    */
  private[graft] def listLog(spark: SparkSession, base: String, uuid: String): VersionLog = {
    listingReads.incrementAndGet()
    val statuses =
      try fs(spark, base).listStatus(new Path(versionsDir(base, uuid))).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val full = Set.newBuilder[Long]
    val delta = Set.newBuilder[Long]
    val mtimes = scala.collection.mutable.Map.empty[Long, Long]
    statuses.foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.endsWith(".json")) {
        val isDelta = n.endsWith(".delta.json")
        val v = n.stripPrefix("v").stripSuffix(if (isDelta) ".delta.json" else ".json").toLong
        (if (isDelta) delta else full) += v
        mtimes(v) = math.min(mtimes.getOrElse(v, Long.MaxValue), st.getModificationTime)
      }
    }
    VersionLog(full.result(), delta.result(), mtimes.toMap)
  }

  /** All commit versions present (checkpoints and deltas), ascending. */
  def listVersions(spark: SparkSession, base: String, uuid: String): Seq[Long] =
    listLog(spark, base, uuid).versions

  /** Apply one O(delta) record to its parent snapshot (a `full` record
    * carries the complete state in `adds` and ignores the parent's
    * partitions — callers hand it an empty parent).
    */
  private def applyDelta(parent: DatasetMetadata, d: VersionDelta): DatasetMetadata = {
    val removed = d.removes.toSet
    DatasetMetadata(
      uuid = d.uuid,
      metadataVersion = parent.metadataVersion,
      partitionKeys = d.partitionKeys,
      partitions =
        Option(parent.partitions).getOrElse(Map.empty).filter(kv => !removed.contains(kv._1)) ++ d.adds,
      partitionSeq =
        Option(parent.partitionSeq).getOrElse(Map.empty).filter(kv => !removed.contains(kv._1)) ++ d.addSeq,
      indices = d.indices,
      zoneMaps = d.zoneMaps,
      zones = d.zones,
      blooms = d.blooms,
      deletes = Option(d.deletes).getOrElse(Nil),
      schemaJson = d.schemaJson,
      metadata = d.metadata)
  }

  /** Commit-record reads of one dataset, each counted in [[recordReads]]. */
  private final class Records(spark: SparkSession, val base: String, val uuid: String) {
    private val filesystem = fs(spark, base)
    private def read[T](key: String, cls: Class[T]): T = {
      recordReads.incrementAndGet()
      val in = filesystem.open(new Path(key))
      try mapper.readValue(in: java.io.InputStream, cls)
      finally in.close()
    }
    def full(v: Long): DatasetMetadata = read(versionKey(base, uuid, v), classOf[DatasetMetadata])
    def delta(v: Long): VersionDelta = read(versionDeltaKey(base, uuid, v), classOf[VersionDelta])
  }

  private def noSuchVersion(uuid: String, v: Long, log: VersionLog) =
    new NoSuchElementException(
      s"Dataset '$uuid' has no version $v (vacuumed by gc, or never committed); " +
        s"available: ${log.versions.mkString(",")}")

  private def unreachable(uuid: String, v: Long, gap: Long) =
    new NoSuchElementException(
      s"Dataset '$uuid': version $v is unreachable — commit record $gap of its " +
        s"replay chain is missing (vacuumed by gc?)")

  /** Enter version `v`'s replay chain: read `v`'s own record, walk back
    * to the nearest checkpoint / self-contained record / cached snapshot,
    * then fold the deltas forward. A cached snapshot stands in for a
    * record only while that record is listed — this JVM's cache must not
    * mask a vacuumed record that strands every fresh reader. `Left(gap)`
    * names the missing record that severs the chain; a `v` the listing
    * does not hold fails as never committed.
    */
  private def enterChain(rec: Records, log: VersionLog, v: Long): Either[Long, DatasetMetadata] = {
    if (!log.has(v)) throw noSuchVersion(rec.uuid, v, log)
    val deltas = scala.collection.mutable.ListBuffer.empty[VersionDelta]
    var k = v
    var baseMd: DatasetMetadata = null
    while (baseMd == null) {
      val cachedK = if (k != v && log.has(k)) cacheGet((rec.base, rec.uuid, k)) else null
      if (cachedK != null) { cacheHits.incrementAndGet(); baseMd = cachedK }
      else if (log.full(k)) baseMd = rec.full(k)
      else if (!log.delta(k)) return Left(k)
      else {
        val d = rec.delta(k)
        deltas.prepend(d)
        if (d.full) baseMd = DatasetMetadata(uuid = rec.uuid) // self-contained
        else k -= 1
      }
    }
    Right(deltas.foldLeft(baseMd)(applyDelta))
  }

  /** Ascending replay of the commit log — the one walk behind `history`,
    * the change feed, fsck and gc. Yields each of `versions` (ascending,
    * from the listing `log`) with its state, or `Left(gap)` when a missing
    * record severs its replay chain. Each version's own record is read
    * once: a checkpoint resets the state, a self-contained delta starts
    * from empty, and a plain delta folds onto the previous step. The
    * first version, and any after a gap in `versions`, enters its chain
    * through [[loadVersion]]'s walk-back. Walking every listed version
    * therefore never consults the snapshot cache, and no walk fills it:
    * a walk holds one snapshot at a time.
    */
  private[graft] def replayChains(spark: SparkSession, base: String, uuid: String,
      versions: Seq[Long], log: VersionLog): Iterator[(Long, Either[Long, DatasetMetadata])] = {
    val rec = new Records(spark, base, uuid)
    var prev: (Long, Either[Long, DatasetMetadata]) = (Long.MinValue, Left(0L))
    versions.iterator.map { v =>
      val step =
        if (prev._1 == v - 1 && log.delta(v) && !log.full(v)) {
          val d = rec.delta(v)
          if (d.full) Right(applyDelta(DatasetMetadata(uuid = uuid), d))
          else prev._2.map(applyDelta(_, d))
        } else enterChain(rec, log, v)
      prev = v -> step
      prev
    }
  }

  /** [[replayChains]] failing like [[loadVersion]] at the first severed
    * chain.
    */
  private[graft] def replay(spark: SparkSession, base: String, uuid: String,
      versions: Seq[Long], log: VersionLog): Iterator[(Long, DatasetMetadata)] =
    replayChains(spark, base, uuid, versions, log).map { case (v, step) =>
      v -> step.fold(gap => throw unreachable(uuid, v, gap), identity)
    }

  /** Load the immutable state of one commit (time travel): the cached
    * snapshot if this JVM has parsed it before, else [[replay]]'s chain
    * entry — the checkpoint blob directly, or the nearest earlier
    * checkpoint/cached snapshot + replay of the delta records up to `v`:
    * at most [[CheckpointEvery]]-1 small reads, located through ONE
    * `_versions` listing. A stream tailing the log pays exactly the NEW
    * delta records per batch: the walk-back stops at the previous batch's
    * cached snapshot.
    */
  def loadVersion(spark: SparkSession, base: String, uuid: String, v: Long): DatasetMetadata = {
    val cached = cacheGet((base, uuid, v))
    if (cached != null) { cacheHits.incrementAndGet(); return cached }
    val md = enterChain(new Records(spark, base, uuid), listLog(spark, base, uuid), v)
      .fold(gap => throw unreachable(uuid, v, gap), identity)
    cachePut((base, uuid, v), md)
    md
  }

  /** Write `full`, the state of version `v`, at its checkpoint key if
    * absent — making `v` self-contained so gc can drop the older records
    * its replay chain used to need. Idempotent; the delta record (if any)
    * stays in place and [[loadVersion]] simply prefers the checkpoint.
    */
  private[graft] def materializeCheckpoint(spark: SparkSession, base: String, uuid: String,
      v: Long, full: DatasetMetadata): Unit = {
    val filesystem = fs(spark, base)
    val key = new Path(versionKey(base, uuid, v))
    if (filesystem.exists(key)) return
    val bytes =
      (if (full.partitions.size > 1000) mapper.writer()
       else mapper.writerWithDefaultPrettyPrinter()).writeValueAsBytes(full)
    val out =
      try filesystem.create(key, false)
      catch { case _: java.io.IOException if filesystem.exists(key) => return }
    try out.write(bytes) finally out.close()
  }

  /** O(delta) versioned commit: first CLAIM the next version by writing the
    * immutable commit record under `<uuid>/_versions/` with
    * create-no-overwrite — on HDFS an atomic namespace claim, so of two
    * racing writers that both loaded version n-1 exactly one creates the
    * v<n> record and the loser gets [[ConcurrentCommitException]]
    * (optimistic concurrency, the guarantee the reference's
    * last-writer-wins blob never had). CAVEAT: the claim is only as atomic
    * as the filesystem's create-no-overwrite — HDFS enforces it in the
    * namespace, but local ChecksumFileSystem and S3A implement it as
    * check-then-create, leaving a narrow window where two racers can both
    * "win" v<n>; on such stores treat the guarantee as best-effort (S3
    * users should front commits with a conditional-put or locking layer).
    *
    * The record is an O(delta) [[VersionDelta]] (`v<n>.delta.json`) listing
    * only added/removed labels; every [[CheckpointEvery]]-th commit (and
    * v1) writes the full snapshot `v<n>.json` instead — the single-put
    * idea of io_components/write.py:169-243 kept, its O(#files)-per-commit
    * scale ceiling removed. A streaming sink committing every micro-batch
    * pays O(batch) bytes per commit regardless of how many million files
    * the dataset has accumulated.
    *
    * Then publish the LATEST pointer — now a TINY `{pointerVersion}` blob,
    * O(1) — by rename WITH OVERWRITE (`FileContext.rename(...,
    * Options.Rename.OVERWRITE)`) — atomic on HDFS/local, so a concurrent
    * reader observes either the previous or the next complete commit,
    * never an absent dataset (SPEC.md §commit). On S3A a rename is
    * copy+delete but the pointer is still last-writer-wins; the version
    * claim stays conditional. Readers resolve the pointer against
    * immutable commit records, so a commit is VISIBLE only once whole.
    *
    * The parent version is taken from `metadata(VersionKey)` as stamped by
    * the load the caller mutated — metadata never loaded (fresh store,
    * legacy blob) falls back to the max version on disk. `parentMd`
    * (optional, an optimization) must BE that parent state; without it a
    * delta commit reconstructs the parent via [[loadVersion]].
    */
  def store(spark: SparkSession, base: String, md0: DatasetMetadata,
      parentMd: Option[DatasetMetadata] = None,
      operation: String = ""): DatasetMetadata = {
    val filesystem = fs(spark, base)
    val parent = md0.metadata.get(VersionKey).map(_.toLong)
      .getOrElse(listVersions(spark, base, md0.uuid).lastOption.getOrElse(0L))
    val newV = parent + 1
    // the parent snapshot, resolved once: delta rendering diffs against it,
    // and the in-commit timestamp floors on ITS stamp — the caller's
    // metadata usually derives from the parent it loaded, but a rollback
    // passes the restore TARGET's (older) metadata, whose stamp can trail
    // the head's and would otherwise break strict monotonicity
    val parentStateOpt: Option[DatasetMetadata] =
      if (parent == 0L) None
      else parentMd.filter(_.version == parent).orElse(
        try Some(loadVersion(spark, base, md0.uuid, parent))
        catch { case _: NoSuchElementException => None })
    val parentTs = (md0.metadata.get(CommitTsKey).toSeq ++
      parentStateOpt.flatMap(_.metadata.get(CommitTsKey)).toSeq)
      .map(_.toLong).maxOption.getOrElse(Long.MinValue)
    val commitTs = math.max(System.currentTimeMillis(), parentTs + 1)
    val opMeta: Map[String, String] =
      if (operation.isEmpty) Map.empty
      else Map(OperationKey -> operation, OperationCommitKey -> newV.toString)
    val md = md0.copy(metadata = md0.metadata +
      (VersionKey -> newV.toString) + (CommitTsKey -> commitTs.toString) ++ opMeta)
    // pretty JSON is a debugging aid; past ~1k entries a record is
    // machine-read only and the indentation roughly doubles its size, so
    // large records switch to compact form (same Jackson model both ways)
    def render(value: Any, entries: Int): Array[Byte] =
      (if (entries > 1000) mapper.writer()
       else mapper.writerWithDefaultPrettyPrinter()).writeValueAsBytes(value)

    // 1. the conditional version claim (immutable commit record):
    //    full snapshot at checkpoints, O(delta) action record otherwise.
    //    The claim KEY is a pure function of newV — checkpoint versions
    //    claim `v<n>.json`, all others claim `v<n>.delta.json` — so two
    //    racers for the same version ALWAYS collide on one
    //    create-no-overwrite key. (A writer whose parent chain is
    //    unreadable must not switch keys: it writes a self-contained
    //    `full` delta at the SAME delta key instead — see [[VersionDelta]].)
    val isCkpt = isCheckpointVersion(newV)
    val parentState: Option[DatasetMetadata] = if (isCkpt) None else parentStateOpt
    val bytes: Array[Byte] =
      if (isCkpt) render(md, md.partitions.size)
      else parentState match {
        case Some(p) =>
          val pLabels = Option(p.partitions).getOrElse(Map.empty).keySet
          val adds = md.partitions.keys
            .filter(l => !pLabels.contains(l) || p.sizeOf(l) != md.sizeOf(l))
            .map(l => l -> md.sizeOf(l)).toMap
          val addSeq = md.partitions.keys
            .filter(l => !pLabels.contains(l) || p.seqOf(l) != md.seqOf(l))
            .map(l => l -> md.seqOf(l)).toMap
          val removes = (pLabels -- md.partitions.keySet).toSeq.sorted
          val delta = VersionDelta(
            uuid = md.uuid, parent = parent, partitionKeys = md.partitionKeys,
            adds = adds, addSeq = addSeq, removes = removes,
            indices = md.indices, zoneMaps = md.inlineZoneMaps,
            zones = md.zoneRegistry, blooms = md.bloomRegistry,
            deletes = md.deleteFragments,
            schemaJson = md.schemaJson, metadata = md.metadata)
          render(delta, adds.size + removes.size)
        case None =>
          // parent chain unreadable (vacuumed, partially copied store):
          // a SELF-CONTAINED record at the same delta key
          val allSizes = md.partitions.keys.map(l => l -> md.sizeOf(l)).toMap
          val allSeqs = md.partitions.keys.map(l => l -> md.seqOf(l)).toMap
          val delta = VersionDelta(
            uuid = md.uuid, parent = parent, partitionKeys = md.partitionKeys,
            adds = allSizes, addSeq = allSeqs, removes = Nil,
            indices = md.indices, zoneMaps = md.inlineZoneMaps,
            zones = md.zoneRegistry, blooms = md.bloomRegistry,
            deletes = md.deleteFragments,
            schemaJson = md.schemaJson, metadata = md.metadata, full = true)
          render(delta, md.partitions.size)
      }
    val vKey = new Path(
      if (isCkpt) versionKey(base, md.uuid, newV)
      else versionDeltaKey(base, md.uuid, newV))
    filesystem.mkdirs(vKey.getParent)
    val vOut =
      try filesystem.create(vKey, false)
      catch { case e: java.io.IOException =>
        if (filesystem.exists(vKey))
          throw new ConcurrentCommitException(
            s"Dataset '${md.uuid}' version $newV was committed concurrently " +
              s"(this writer loaded version $parent); reload and retry")
        else throw e
      }
    try vOut.write(bytes) finally vOut.close()

    // 2. the latest pointer — O(1) bytes, resolved via the records above
    val key = new Path(metadataKey(base, md.uuid))
    val tmp = new Path(key.getParent, s".${key.getName}.tmp")
    val pointerBytes = mapper.writeValueAsBytes(
      Map("pointerVersion" -> newV, "uuid" -> md.uuid))
    val out = filesystem.create(tmp, true)
    try out.write(pointerBytes)
    finally out.close()
    atomicReplace(spark, filesystem, tmp, key)
    // seed the snapshot cache: the committing JVM's next load() costs one
    // pointer read (md IS the state loadVersion(newV) would reconstruct)
    cachePut((base, md.uuid, newV), md)
    md
  }

  def load(spark: SparkSession, base: String, uuid: String): DatasetMetadata =
    readPointer(spark, base, uuid) { tree =>
      // new-format tiny pointer → resolve against immutable commit
      // records (cached); legacy full blob → parse directly
      // (zero-migration read; mutable last-writer-wins, never cached)
      if (tree.has("pointerVersion"))
        loadVersion(spark, base, uuid, tree.get("pointerVersion").asLong())
      else mapper.treeToValue(tree, classOf[DatasetMetadata])
    }

  /** The published head without resolving it: `Right(version)` from the
    * latest pointer, or `Left(snapshot)` for a legacy full-blob pointer.
    * One pointer read, no listing — maintenance walks read the pointer
    * BEFORE listing `_versions`, so the head's record is always listed.
    */
  private[graft] def head(spark: SparkSession, base: String, uuid: String)
      : Either[DatasetMetadata, Long] =
    readPointer(spark, base, uuid) { tree =>
      if (tree.has("pointerVersion")) Right(tree.get("pointerVersion").asLong())
      else Left(mapper.treeToValue(tree, classOf[DatasetMetadata]))
    }

  private def readPointer[T](spark: SparkSession, base: String, uuid: String)(
      resolve: com.fasterxml.jackson.databind.JsonNode => T): T = {
    val key = new Path(metadataKey(base, uuid))
    val filesystem = fs(spark, base)
    // Happy path is ONE FS op: open the ~100-byte pointer and answer from
    // the snapshot cache (an unchanged pointer needs no record reads at
    // all). Readers can race the latest-pointer swap: checksum filesystems
    // (file://) rename data + crc non-atomically, and the non-FileContext
    // fallback has a delete→rename window. A reader catching either moment
    // sees a transient checksum error / absent key while the _versions dir
    // proves the dataset exists — retry briefly before concluding anything.
    var attempt = 0
    while (true) {
      try {
        pointerReads.incrementAndGet()
        val in = filesystem.open(key)
        val tree =
          try mapper.readTree(in: java.io.InputStream)
          finally in.close()
        return resolve(tree)
      } catch {
        case _: java.io.FileNotFoundException =>
          // absent pointer: not-a-dataset, or a mid-commit swap window —
          // the _versions dir disambiguates
          if (!filesystem.exists(new Path(versionsDir(base, uuid))))
            throw new NoSuchElementException(s"Dataset '$uuid' not found at $key")
          if (attempt >= 5)
            throw new java.io.IOException(s"mid-commit: $key absent after retries")
          attempt += 1
          Thread.sleep(20L * attempt)
        case _: java.io.IOException if attempt < 5 =>
          attempt += 1
          Thread.sleep(20L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def exists(spark: SparkSession, base: String, uuid: String): Boolean =
    fs(spark, base).exists(new Path(metadataKey(base, uuid)))

  /** List dataset uuids under a base path (≙ cube discovery's store scan,
    * api/discover.py:87-190).
    */
  def listDatasets(spark: SparkSession, base: String): Seq[String] = {
    val dir = new Path(base)
    val filesystem = fs(spark, base)
    if (!filesystem.exists(dir)) Nil
    else filesystem.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(Suffix))
      .map(_.dropRight(Suffix.length))
      .sorted
  }

  /** Recursive metadata-dict merge keeping only globally-consistent keys
    * (≙ combine_metadata, io_components/utils.py:45-118): a key kept only if
    * every input that has it agrees on the value.
    */
  def combineMetadata(metas: Seq[Map[String, String]]): Map[String, String] = {
    val keys = metas.flatMap(_.keySet).distinct
    keys.flatMap { k =>
      val vals = metas.flatMap(_.get(k)).distinct
      if (vals.size == 1) Some(k -> vals.head) else None
    }.toMap
  }

  /** Delete dataset: files and indices first, metadata blob LAST, preserving
    * the reference's ordering guarantee (io_components/delete.py:8-26) —
    * a dataset is discoverable only while fully present.
    */
  def delete(spark: SparkSession, base: String, uuid: String): Unit = {
    val filesystem = fs(spark, base)
    filesystem.delete(new Path(s"$base/$uuid"), true)
    filesystem.delete(new Path(metadataKey(base, uuid)), false)
    invalidateCache(base, uuid)
  }
}
