package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ktk.{DatasetMetadata, SnapshotScan}

/** Offset of the graft change feed = the dataset's COMMIT VERSION. Offset
  * `v` means "every row committed up to and including snapshot v has been
  * emitted" — exactly the monotone id the versioned commit protocol
  * already maintains, so the source needs no bookkeeping of its own.
  */
final case class GraftOffset(version: Long) extends Offset {
  override def json: String = version.toString
}

/** [[ParquetScan]] that can ALSO serve as a Structured Streaming source:
  * batch reads are inherited unchanged (vectorized reader, footer pushdown,
  * `inputFiles`, explain metadata), and `toMicroBatchStream` tails the
  * dataset's commit log.
  */
final class GraftStreamableScan(
    spark: SparkSession,
    hadoopConf: Configuration,
    fileIndex: InMemoryFileIndex,
    dataSchema: StructType,
    readDataSchema: StructType,
    readPartitionSchema: StructType,
    pushedFilters: Array[Filter],
    options: CaseInsensitiveStringMap,
    base: String,
    uuid: String,
    tableSchema: StructType)
  extends ParquetScan(spark, hadoopConf, fileIndex, dataSchema, readDataSchema,
    readPartitionSchema, pushedFilters, options, None, Nil, Nil)
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  // Datasets with pending deletion vectors never reach this scan's batch
  // path directly: GraftScanBuilder routes their dirty files through
  // [[GraftDvScan]] (clean/dirty split), handing THIS scan only files no
  // tombstone touches.

  // ------------------------------------------------ runtime filtering (DPP)
  //
  // Spark 4.1's FileScan does NOT implement SupportsRuntimeV2Filtering, so
  // without this a star-schema join reads EVERY fact partition even when
  // the dim side reduces the join keys to a handful of partition values.
  // PartitionPruning plants an IN-subquery runtime filter on the scan's
  // partition columns; at execution BatchScanExec calls `filter(...)` and
  // re-plans, and the planned FilePartitions drop every file whose typed
  // partition values fail the predicates. Pruning is best-effort by
  // contract — unknown predicate shapes prune nothing, Spark re-applies
  // the exact join — so correctness never depends on it.
  @volatile private var runtimePreds:
    Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    readPartitionSchema.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    runtimePreds = predicates
  }

  override def planInputPartitions(): Array[InputPartition] =
    GraftRuntimePrune(super.planInputPartitions(), readPartitionSchema, runtimePreds,
      tag = "clean")

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(base, uuid, tableSchema, dataSchema, readDataSchema,
      readPartitionSchema, options)
}

/** Best-effort FilePartition pruning against runtime (DPP) predicates over
  * the typed partition values Spark attached to each planned file. Only
  * shapes whose semantics are certain prune (`=`, `IN`, `AND`, `OR`, with
  * same-typed literals); anything else keeps the file — dropping a file
  * wrongly would lose rows, keeping one only costs the exact filter Spark
  * re-applies anyway.
  */
object GraftRuntimePrune {
  import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.execution.datasources.FilePartition

  /** test/observability hook: CUMULATIVE files kept vs dropped by runtime
    * pruning (a DV scan prunes clean and dirty sides in separate calls) */
  val lastKept = new java.util.concurrent.atomic.AtomicLong(0)
  val lastDropped = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-call-site (kept, dropped) counters, keyed by the caller's tag —
    * lets probes assert that a SPECIFIC union branch (clean vs dirty) of the
    * DV split pruned during the actual execution, instead of replanning
    * final-plan scan instances AQE may have swapped out.
    *
    * SINGLE-QUERY assumption: these are process-global counters and
    * `resetCounters` clears all tags — concurrent queries in one JVM
    * interleave increments under the same tags. That is acceptable for the
    * test probes these exist for (probes run their query alone between
    * reset and read); production pruning is unaffected (counters are
    * observability only). Key by (queryId, tag) before ever asserting on
    * them under concurrent execution.
    */
  val byTag = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  def resetCounters(): Unit = { lastKept.set(0); lastDropped.set(0); byTag.clear() }

  def apply(parts: Array[InputPartition], partitionSchema: StructType,
      preds: Array[Predicate], tag: String = ""): Array[InputPartition] = {
    if (preds.isEmpty || partitionSchema.isEmpty) return parts
    // COMPILE the predicates once — ordinal lookups, literal normalization
    // and IN-set hashing must not run per FILE (a large table plans
    // millions of files and a DPP IN-set can carry thousands of values)
    val compiled = preds.map(compile(_, partitionSchema))
    var kept = 0L; var dropped = 0L
    val out = parts.flatMap {
      case fp: FilePartition =>
        val fs = fp.files.filter { f =>
          val k = compiled.forall(_(f.partitionValues))
          if (k) kept += 1 else dropped += 1
          k
        }
        if (fs.isEmpty) None else Some(fs)
      case other => return parts // unknown partition shape: never prune
    }
    lastKept.addAndGet(kept); lastDropped.addAndGet(dropped)
    if (tag.nonEmpty)
      byTag.merge(tag, (kept, dropped),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    out.zipWithIndex.map { case (fs, i) => FilePartition(i, fs): InputPartition }
  }

  private val keepAll: InternalRow => Boolean = _ => true

  /** Compile one predicate to a row closure. Tri-state collapsed to "might
    * this row match": true = KEEP (match or unknown), false = provably no
    * match — every uncertain shape compiles to keepAll.
    */
  private def compile(p: Predicate, schema: StructType): InternalRow => Boolean =
    p.name() match {
      case "AND" =>
        val cs = p.children().collect { case c: Predicate => compile(c, schema) }
        row => cs.forall(_(row))
      case "OR" =>
        // a non-predicate child makes the disjunction un-evaluable: keep
        if (!p.children().forall(_.isInstanceOf[Predicate])) keepAll
        else {
          val cs = p.children().map(c => compile(c.asInstanceOf[Predicate], schema))
          row => cs.exists(_(row))
        }
      case "=" => p.children() match {
        case Array(f: NamedReference, l: V2Literal[_]) => compileIn(f, Seq(l), schema)
        case Array(l: V2Literal[_], f: NamedReference) => compileIn(f, Seq(l), schema)
        case _                                         => keepAll
      }
      case "IN" => p.children() match {
        case Array(f: NamedReference, rest @ _*) if rest.forall(_.isInstanceOf[V2Literal[_]]) =>
          compileIn(f, rest.map(_.asInstanceOf[V2Literal[_]]), schema)
        case _ => keepAll
      }
      case _ => keepAll
    }

  private def compileIn(f: NamedReference, lits: Seq[V2Literal[_]],
      schema: StructType): InternalRow => Boolean = {
    if (f.fieldNames.length != 1) return keepAll
    val ord = schema.fieldNames.indexOf(f.fieldNames.head)
    if (ord < 0) return keepAll
    val dt = schema.fields(ord).dataType
    // typed-literal guard: comparing differently-typed boxed values with
    // == is always false, which would WRONGLY prune — keep instead
    if (lits.exists(_.dataType() != dt)) return keepAll
    // literals arrive in BOTH representations: Spark's runtime-filter
    // translation carries catalyst-internal values (UTF8String, day ints),
    // Expressions.literal carries external JVM values (String, sql.Date) —
    // normalize to catalyst ONCE, or a String-vs-UTF8String mismatch
    // silently prunes a matching file
    val values: Set[Any] = lits.map(l =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToCatalyst(l.value())).toSet
    row =>
      if (row.isNullAt(ord)) false // engine forbids null partitions
      else values.contains(row.get(ord, dt))
  }
}

/** Commit-aware change feed over a graft dataset
  * (`spark.readStream.format("graft").option("uuid", u).load(base)`):
  * each micro-batch contains the rows APPENDED between two commit
  * versions — uncommitted files are invisible (unlike a raw file stream,
  * which tails the directory), replayed commits are naturally deduped by
  * the offset, and restarts resume from the checkpointed version.
  *
  * Batch planning diffs two metadata SNAPSHOTS (O(catalog), no listing):
  * labels present in `end` but not in `start`, restricted to commit
  * sequence numbers NEWER than anything in `start` — which excludes
  * compaction rewrites (compact preserves its victims' sequence numbers,
  * so rewritten history never re-emits). Delete scopes don't emit either:
  * this is an append feed, not full CDC.
  *
  * Snapshots must survive long enough for the stream to read them —
  * `Ktk.garbageCollect(retainVersions = k)` keeps the last `k` commits
  * travelable; the default gc (retain 0) breaks a lagging stream loudly
  * (missing-snapshot error), never silently.
  *
  * `option("startingVersion", v)`: first batch starts AFTER commit v
  * (default 0 = emit the whole current content first).
  *
  * `option("maxVersionsPerTrigger", n)`: ADMISSION CONTROL — each
  * micro-batch advances at most `n` commit versions, so a stream
  * recovering from lag (or starting against a long history) catches up in
  * bounded batches instead of replaying the entire backlog in one
  * unbounded batch. `option("maxBytesPerTrigger", b)` (Delta's analog)
  * bounds each batch by the versions' cumulative ADDED data bytes instead
  * — whole versions only, always at least one — so catch-up batch size
  * tracks data volume, not commit count, when commit sizes vary wildly.
  * Both caps compose (the tighter one wins). Default: all available.
  */
final class GraftMicroBatchStream(
    base: String,
    uuid: String,
    tableSchema: StructType,
    dataSchema: StructType,
    readDataSchema: StructType,
    readPartitionSchema: StructType,
    options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private def spark: SparkSession = SparkSession.active

  /** `Trigger.AvailableNow`: the head is FIXED once at query start, so the
    * run drains `(start, cap]` — in `maxVersionsPerTrigger`-bounded batches
    * when admission control is on — and terminates, even while writers
    * keep committing behind it. Without this interface Spark 4 falls back
    * to Trigger.Once semantics, which under admission control would stop
    * after ONE capped batch instead of draining.
    */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(latestVersion())

  private val maxVersionsPerTrigger: Option[Long] =
    // distinguish ABSENT (no limit) from an explicit value: a user setting
    // 0 expecting "admit nothing" must get an error, not an unbounded batch
    if (!options.containsKey("maxVersionsPerTrigger")) None
    else {
      val n = options.getLong("maxVersionsPerTrigger", 0L)
      require(n > 0L, "maxVersionsPerTrigger must be >= 1")
      Some(n)
    }

  private val maxBytesPerTrigger: Option[Long] =
    if (!options.containsKey("maxBytesPerTrigger")) None
    else {
      val n = options.getLong("maxBytesPerTrigger", 0L)
      require(n > 0L, "maxBytesPerTrigger must be >= 1")
      Some(n)
    }

  /** The change feed keys batches on commit versions; a dataset that has
    * never made a versioned commit (legacy blob, version 0) would emit
    * nothing FOREVER — fail loudly instead of polling in silence.
    */
  private def latestVersion(): Long = {
    val md = DatasetMetadata.load(spark, base, uuid)
    if (md.version == 0L)
      throw new IllegalStateException(
        s"dataset '$uuid' has no versioned commits (no '${DatasetMetadata.VersionKey}' " +
          "key — it predates versioned commits), so the change feed has nothing to key " +
          "batches on and this stream would emit nothing. Re-commit the dataset once " +
          "(e.g. a no-op Ktk.update) to start a version line.")
    md.version
  }

  override def initialOffset(): Offset =
    GraftOffset(options.getLong("startingVersion", 0L))

  override def latestOffset(): Offset =
    GraftOffset(availableNowCap.getOrElse(latestVersion()))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission-controlled latest offset: never admit more than
    * `maxVersionsPerTrigger` commits past `start` into one batch.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val latest = availableNowCap.getOrElse(latestVersion())
    val sv = start.asInstanceOf[GraftOffset].version
    GraftOffset(StreamAdmission.capEnd(spark, base, uuid, sv, latest,
      maxVersionsPerTrigger, maxBytesPerTrigger))
  }

  /** True head of the stream for progress reporting, regardless of caps. */
  override def reportLatestOffset(): Offset =
    GraftOffset(DatasetMetadata.load(spark, base, uuid).version)

  override def deserializeOffset(json: String): Offset = GraftOffset(json.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  private def scanFor(md: DatasetMetadata, labels: Seq[String]): ParquetScan = {
    // FULL dataset schema for the index (partition-column typing); the
    // scan itself splits data vs partition columns below. Planned from
    // the snapshot's recorded sizes: no listing, no stats
    val index = SnapshotScan.fileIndex(spark, md.tableDir(base), md.schema,
      md.partitionKeys, SnapshotScan.sized(md, labels))
    ParquetScan(spark, spark.sessionState.newHadoopConf(), index,
      dataSchema, readDataSchema, readPartitionSchema,
      Array.empty, options, None, Nil, Nil)
  }

  /** Batch planning is O(delta) in FS reads: both endpoint snapshots come
    * from [[DatasetMetadata.loadVersion]], whose snapshot cache makes the
    * `end` resolution walk back only through the delta records in
    * `(start, end]` (the `start` snapshot was cached when the previous
    * batch planned against it, and the first batch seeds it) — a stream
    * tailing a million-file dataset reads per batch only the records the
    * batch's commits wrote. Asserted in GraftStreamSourceSpec.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val sv = start.asInstanceOf[GraftOffset].version
    val ev = end.asInstanceOf[GraftOffset].version
    if (ev <= sv) return Array.empty
    val endMd = DatasetMetadata.loadVersion(spark, base, uuid, ev)
    val (startLabels, startMaxSeq) =
      if (sv == 0L) (Set.empty[String], Long.MinValue)
      else {
        val m = DatasetMetadata.loadVersion(spark, base, uuid, sv)
        // seq high watermark: strictly newer-than-anything-ever-at-start;
        // labels' own seqs cover pre-watermark legacy blobs
        val hwm = m.metadata.get(DatasetMetadata.SeqHwmKey).map(_.toLong).getOrElse(0L)
        (m.partitions.keySet,
          math.max(hwm, (0L +: m.partitions.keys.toSeq.map(m.seqOf)).max))
      }
    val fresh = endMd.partitions.keys.toSeq.sorted
      .filterNot(startLabels.contains)
      // compaction rewrites carry their victims' seq — already emitted
      .filter(l => endMd.seqOf(l) > startMaxSeq)
    if (fresh.isEmpty) Array.empty
    else scanFor(endMd, fresh).toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftStreamRowFactory(
      scanFor(DatasetMetadata.load(spark, base, uuid), Nil).toBatch.createReaderFactory(),
      StructType(readDataSchema.fields ++ readPartitionSchema.fields), tableSchema)
}

/** Row-mode reader for the stream with output in TABLE-schema order.
  *
  * Two micro-batch-specific corrections over the raw parquet factory:
  * (1) the streaming relation keeps the table's declared column order
  * (partition keys first) while file readers emit (data ++ partition)
  * columns — rows are projected into table order, or every downstream
  * expression would silently read the wrong fields; (2) reads are
  * row-based: MicroBatchScanExec drives the columnar path differently from
  * BatchScanExec (the reader's batch vectors get recycled under it,
  * surfacing as closed-vector NPEs on partitioned tables). The parquet
  * reader still pushes filters and prunes columns; batch reads of the same
  * table keep full vectorization.
  */
final case class GraftStreamRowFactory(
    inner: PartitionReaderFactory, from: StructType, to: StructType)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val reader = inner.createReader(partition)
    val fromAttrs = DataTypeUtils.toAttributes(from)
    val exprs = to.fields.toSeq.map(f => fromAttrs(from.fieldIndex(f.name)))
    val project = UnsafeProjection.create(exprs, fromAttrs)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = reader.next()
      override def get(): InternalRow = project(reader.get())
      override def close(): Unit = reader.close()
    }
  }
}

/** Shared micro-batch admission arithmetic for the `graft` and `graft-cdc`
  * streaming sources: version cap first, then byte cap — admit WHOLE
  * versions while their cumulative ADDED data bytes fit, always at least
  * one (a commit cannot split; offsets are versions). Both snapshots of
  * each step resolve through the metadata cache, so a catch-up walk is
  * O(versions walked) metadata records — never a listing or data read.
  */
private[sources] object StreamAdmission {

  /** Bytes of data files the commit at `v` ADDED over its parent — the
    * admission currency for `maxBytesPerTrigger`.
    */
  def bytesAddedAt(spark: SparkSession, base: String, uuid: String, v: Long): Long = {
    val mdV = DatasetMetadata.loadVersion(spark, base, uuid, v)
    val mdP =
      if (v == 1L) DatasetMetadata(uuid = uuid, schemaJson = mdV.schemaJson)
      else DatasetMetadata.loadVersion(spark, base, uuid, v - 1)
    // Jackson leaves an absent `partitions` field null on old blobs
    // (same precedent as the sidecar registries) — guard like
    // Ktk.history's diff does.
    val pParts = Option(mdP.partitions).getOrElse(Map.empty[String, Long])
    val vParts = Option(mdV.partitions).getOrElse(Map.empty[String, Long])
    val pLabels = pParts.keySet
    vParts.keysIterator.filterNot(pLabels.contains).map(mdV.sizeOf).sum
  }

  def capEnd(spark: SparkSession, base: String, uuid: String,
      base0: Long, cur: Long,
      maxVersions: Option[Long], maxBytes: Option[Long]): Long = {
    val byVersions = maxVersions match {
      case Some(n) => math.min(cur, base0 + n)
      case None    => cur
    }
    maxBytes match {
      case None      => byVersions
      case Some(cap) => capWalk(base0, byVersions, cap)(bytesAddedAt(spark, base, uuid, _))
    }
  }

  /** The pure byte-admission walk (property-tested in isolation): admit
    * whole versions `base0+1 .. byVersions` in order while cumulative
    * `bytesOf` fits `cap`, always at least one when any is available.
    */
  private[graft] def capWalk(base0: Long, byVersions: Long, cap: Long)(
      bytesOf: Long => Long): Long = {
    var v = base0
    var acc = 0L
    var stop = false
    while (v < byVersions && !stop) {
      val b = bytesOf(v + 1)
      if (acc + b > cap && v > base0) stop = true
      else { acc += b; v += 1 }
    }
    v
  }
}
