package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ktk.{DatasetMetadata, Ktk}

/** Structured Streaming sink into a Ktk-managed dataset: every micro-batch
  * lands as ONE atomic metadata commit ([[Ktk.update]]), and the committed
  * batch id rides in the same commit — so a batch replayed after a crash
  * (checkpoint not yet advanced) is detected and skipped. Together with the
  * single-blob commit point this gives exactly-once TABLE state on top of
  * Spark's at-least-once foreachBatch contract.
  *
  * The target dataset must exist ([[Ktk.createEmpty]] or a prior
  * [[Ktk.store]]) — schema and partitioning are dataset properties, not
  * per-batch choices. Many small streaming commits fragment the layout;
  * run [[Ktk.compact]] on whatever cadence keeps file counts sane.
  */
object KtkSink {

  private val BatchKey = "stream.last_batch_id"
  private val SinceCompactKey = "stream.commits_since_compact"
  private val NearDedupParamsKey = "stream.neardedup.params"

  /** Replay-guard metadata key, scoped to the live streaming query when one
    * is on this thread (StreamExecution publishes the STABLE query id —
    * same across restarts of one checkpoint — as a local property on its
    * micro-batch thread). Scoping prevents the cross-query false skip: a
    * NEW query (fresh checkpoint, batch ids restart at 0) writing into a
    * table another stream already fed must not be silently dropped by the
    * other stream's high-water mark. Direct programmatic callers (no live
    * query) keep the dataset-global key.
    */
  private def batchKeyFor(spark: org.apache.spark.sql.SparkSession): String =
    Option(spark.sparkContext.getLocalProperty(
        org.apache.spark.sql.graft.BatchShim.queryIdKey))
      .map(q => s"$BatchKey.$q").getOrElse(BatchKey)

  /** Collapse a multi-version CDC micro-batch to its FINAL image per key:
    * highest `versionCol` wins; within one version an upsert image beats
    * the delete of the pre-image (a merge's change feed emits
    * delete(old) + insert(new) for the same key). Without this, a batch
    * spanning several upstream commits — normal after consumer downtime —
    * would resurrect deleted keys (the delete lands beside the older
    * insert) and duplicate updated ones. One batch-sized keyed window;
    * `versionCol` is consumed.
    */
  def collapseByVersion(batch: DataFrame, keys: Seq[String], versionCol: String,
                        opCol: Option[String], deleteOp: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "versionCol collapse requires keys")
    require(batch.columns.contains(versionCol),
      s"batch lacks version column '$versionCol'")
    val opRank = opCol
      .map(c => when(col(s"`$c`") <=> lit(deleteOp), 1).otherwise(2))
      .getOrElse(lit(0))
    val w = Window.partitionBy(keys.map(k => col(s"`$k`")): _*)
      .orderBy(col(s"`$versionCol`").desc, opRank.desc)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", versionCol)
  }

  /** Commit one micro-batch exactly once. Public so tests (and external
    * committers) can drive it without a streaming query.
    *
    * `compactEvery > 0` enables inline maintenance: every N-th committed
    * batch triggers [[Ktk.compact]], which merges each commit's small files
    * to target size and re-canonicalizes the appended sidecar fragments —
    * the file count a long-running stream accumulates stays bounded without
    * an external maintenance job.
    *
    * Sidecar read fan-in stays bounded with `compactEvery` off too: the
    * batch's own commit folds a sidecar whose dir already holds
    * [[graft.ktk.Sidecars.MaxFragments]] part files (see
    * [[graft.ktk.Sidecars.Kind.merge]]), so no second commit is needed.
    */
  def commitBatch(batch: DataFrame, base: String, uuid: String, batchId: Long,
                  sortBy: Seq[String] = Nil, compactEvery: Int = 0,
                  extraMetadata: Map[String, String] = Map.empty): Unit = {
    val spark = batch.sparkSession
    val md = DatasetMetadata.load(spark, base, uuid)
    val bk = batchKeyFor(spark)
    val alreadyCommitted = md.metadata.get(bk).exists(_.toLong >= batchId)
    if (!alreadyCommitted) {
      val since = md.metadata.get(SinceCompactKey).map(_.toLong).getOrElse(0L) + 1
      val willCompact = compactEvery > 0 && since >= compactEvery
      // a pure append: [[Ktk.update]] adds the batch's sidecar rows as one
      // more fragment, O(batch) rather than O(index); [[Ktk.compact]] or
      // the commit that reaches the fragment bound folds them
      Ktk.update(spark, base, uuid, Some(batch), sortBy = sortBy,
        extraMetadata = extraMetadata ++ Map(bk -> batchId.toString,
          SinceCompactKey -> since.toString))
      // The counter resets WITH the compaction commit, not before it: if
      // compact throws after the batch commit above, `since` stays >= the
      // threshold and the next batch retries the maintenance pass instead
      // of deferring it a full compactEvery cycle.
      if (willCompact)
        Ktk.compact(spark, base, uuid, extraMetadata = Map(SinceCompactKey -> "0"))
    }
  }

  /** Continuous-ingest DEDUPING sink: commit one micro-batch keeping only
    * content not already in the target dataset — the streaming form of the
    * FineWeb/Dolma loop (each crawl batch dedupes against everything ever
    * ingested, then EXTENDS the ingested set), built from proven parts:
    *
    *  1. intra-batch: one survivor per distinct normalized content
    *     ([[StreamDedup.contentKey]]), the least `idCol` row
    *     ([[graft.ops.Dedup.exact]] — deterministic, replayable);
    *  2. cross-batch/cross-run: survivors filter against the dataset's own
    *     persisted `hashCol` column via
    *     [[graft.ops.Dedup.exactAgainstHashes]] (bloom screen + exact
    *     confirm; ONE narrow column-pruned scan of 8-byte hashes per
    *     batch — history text is never re-read);
    *  3. the accepted rows land through [[commitBatch]] CARRYING their
    *     hash column, so the commit that admits a document atomically
    *     extends the dedup history — and the same batch-id replay guard
    *     makes a crash-replayed batch a no-op instead of a double-admit.
    *
    * The target dataset must exist with `hashCol: long` in its schema.
    * State is the dataset itself: no separate hash store to drift, no
    * watermark horizon — [[StreamDedup.dedupStream]] is the bounded-state
    * WITHIN-stream complement; this is the unbounded ACROSS-runs one.
    *
    * '''Single-writer-per-dataset assumption''': the history probe and the
    * admitting commit are two steps, atomic only against REPLAYS of this
    * query (the batch-id guard rides the commit). Two CONCURRENT writers
    * ingesting the same content can both probe before either commits and
    * both admit it, breaking the first-occurrence invariant — run exactly
    * one deduping ingest query per dataset (the normal Structured
    * Streaming deployment shape: one checkpoint, one sink owner). The
    * commit itself stays safe under concurrency (optimistic retry) — only
    * the DEDUP decision is probe-then-commit.
    */
  def commitBatchDeduped(batch: DataFrame, base: String, uuid: String,
                         idCol: String, textCol: String, batchId: Long,
                         hashCol: String = "content_hash",
                         sortBy: Seq[String] = Nil, compactEvery: Int = 0,
                         fpp: Double = 0.01): Unit = {
    val spark = batch.sparkSession
    val md = DatasetMetadata.load(spark, base, uuid)
    // replay guard up front: a replayed batch must not even pay the probe
    // (commitBatch re-checks under its own load, so the guard stays sound
    // if another writer advances the mark between here and the commit)
    if (md.metadata.get(batchKeyFor(spark)).exists(_.toLong >= batchId)) return
    import org.apache.spark.sql.functions.col
    val keyed = batch.withColumn(hashCol, StreamDedup.contentKey(col(s"`$textCol`")))
    val intra = graft.ops.Dedup.exact(keyed, Seq(hashCol), idCol)
    val history = Ktk.readTable(spark, base, uuid, columns = Seq(hashCol))
    val survivors = graft.ops.Dedup.exactAgainstHashes(
      intra, col(s"`$hashCol`"), history, hashCol, fpp)
    commitBatch(survivors, base, uuid, batchId, sortBy, compactEvery)
  }

  /** Continuous-ingest NEAR-DEDUPING sink: commit one micro-batch keeping
    * only content that is not a MinHash near-duplicate (b-bit signature
    * overlap >= `threshold`) of anything already ingested — the near-dup
    * complement of [[commitBatchDeduped]] and the full FineWeb/Dolma loop
    * (each crawl snapshot near-dedupes against every prior one, then
    * EXTENDS the history), built from proven parts:
    *
    *  1. intra-batch: greedy star near-dedup over the batch's signatures
    *     ([[graft.ops.Dedup.minhashDedup]]'s drop rule — the least-id
    *     member of each verified bucket cluster survives; deterministic,
    *     replayable);
    *  2. cross-batch/cross-run: survivors probe the dataset's own
    *     persisted signature columns (`sigCol`, `bandsCol`) through the
    *     banded broadcast-pruned history probe of
    *     [[graft.ops.Dedup.minhashAgainstHistory]] — ONE narrow
    *     column-pruned scan of history signatures per batch, history text
    *     never re-read, history never shuffled below the probe's fixed
    *     broadcast key budget (4M (band, bucket) keys, sized by the
    *     batch's row count);
    *  3. admitted rows land through [[commitBatch]] CARRYING their
    *     signature columns, so the commit that admits a document
    *     atomically extends the near-dup history — and the batch-id
    *     replay guard makes a crash-replayed batch a no-op instead of a
    *     double-admit.
    *
    * The batch's signature frame is computed ONCE (cached across the three
    * consumers above, unpersisted before returning). The target dataset
    * must exist with `sigCol: binary` and `bandsCol: array<bigint>` in its
    * schema; the MinHash parameters and kernel version are RECORDED in
    * the dataset's metadata on the first admitting commit
    * (`stream.neardedup.params`) and validated on every later one, so a
    * parameter or kernel drift across ingest runs fails loudly instead of
    * silently losing recall (a dataset with data but no recorded params —
    * a foreign writer — falls back to the signature-column stamp policy of
    * [[graft.ops.Dedup.minhashAgainstHistory]]). Same
    * '''single-writer-per-dataset''' assumption as
    * [[commitBatchDeduped]] — the probe and the admitting commit are
    * atomic against replays of this query, not against concurrent foreign
    * writers.
    */
  def commitBatchNearDeduped(batch: DataFrame, base: String, uuid: String,
                             idCol: String, textCol: String, batchId: Long,
                             threshold: Double = 0.8,
                             shingleK: Int = 5, numHashes: Int = 128,
                             bands: Int = 32, maxBucket: Int = 100000,
                             sigCol: String = "sig", bandsCol: String = "bands",
                             sortBy: Seq[String] = Nil, compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    val md = DatasetMetadata.load(spark, base, uuid)
    // replay guard up front: a replayed batch must not even pay the
    // signature pass (commitBatch re-checks under its own load)
    if (md.metadata.get(batchKeyFor(spark)).exists(_.toLong >= batchId)) return
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    val tag = Dedup.signatureParamsTag(shingleK, numHashes, bands)
    md.metadata.get(NearDedupParamsKey).foreach { prev =>
      require(prev == tag,
        s"minhash parameter/kernel mismatch: dataset '$uuid' was ingested " +
          s"with signature parameters $prev (shingleK/numHashes/bands/" +
          s"kernel) but this sink uses $tag — mismatched parameters hash " +
          "differently and recall silently collapses; ingest with the " +
          "recorded parameters or rebuild the dataset")
    }
    val batchSigs = Dedup.minhashSignatures(
        batch, idCol, textCol, shingleK, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val batchItems = batchSigs.count() // materializes the scoped cache
      val intraLosers = Dedup.starLoserIds(batchSigs, threshold)
      val historyMatched =
        if (md.partitions.isEmpty) intraLosers.limit(0)
        else {
          val history = Ktk.readTable(spark, base, uuid,
              columns = Seq(idCol, sigCol, bandsCol))
            .select(col(s"`$idCol`").as("id"), col(s"`$sigCol`").as("sig"),
              col(s"`$bandsCol`").as("bands"))
          // params already proven by the recorded tag above; a dataset
          // carrying data but NO tag was written by someone else — fall
          // back to the signature-column stamp policy (refuses unstamped
          // unless explicitly allowed)
          if (!md.metadata.contains(NearDedupParamsKey))
            Dedup.validateSignatureParams(history, shingleK, numHashes, bands)
          Dedup.matchedIdsAgainstHistorySigs(batchSigs, history, threshold,
            bands, maxBucket, skippedBuckets = None, batchItems = batchItems)
        }
      val losers = intraLosers.unionByName(historyMatched).distinct()
        .withColumnRenamed("id", idCol)
      val survivors = batch.join(losers, Seq(idCol), "left_anti")
      // admitted rows carry their signatures: ONE commit admits the batch
      // AND extends the near-dup history atomically
      val withSigs = survivors.join(
        batchSigs.select(col("id").as(idCol), col("sig").as(sigCol),
          col("bands").as(bandsCol)), Seq(idCol))
      commitBatch(withSigs, base, uuid, batchId, sortBy, compactEvery,
        extraMetadata = Map(NearDedupParamsKey -> tag))
    } finally { batchSigs.unpersist(blocking = false); () }
  }

  /** Commit one micro-batch as an UPSERT (exactly once): rows whose `keys`
    * match live target rows replace them, the rest insert — [[Ktk.merge]]'s
    * merge-on-read shape, so each batch costs O(batch) at any table size
    * (matched rows become a deletion-vector fragment; nothing rewrites).
    * The CDC-ingest sink: a keyed change stream (latest-state-per-key
    * micro-batches) maintains a queryable mirror table.
    *
    * The inline [[Ktk.compact]] maintenance ALSO materializes accumulated
    * tombstones (rewrites apply deletion vectors), so a long-running upsert
    * stream sheds both small files and delete debt on the same cadence.
    * NOTE: within one batch, rows sharing a key all land (source
    * multiplicity is preserved) — pre-aggregate the batch to
    * latest-per-key upstream if the stream can carry several updates for
    * one key per trigger.
    */
  def commitBatchUpsert(batch: DataFrame, base: String, uuid: String, batchId: Long,
                        keys: Seq[String], compactEvery: Int = 0,
                        opCol: Option[String] = None,
                        evolveSchema: Boolean = false,
                        deleteOp: String = "D"): Unit = {
    val spark = batch.sparkSession
    val md = DatasetMetadata.load(spark, base, uuid)
    val bk = batchKeyFor(spark)
    val alreadyCommitted = md.metadata.get(bk).exists(_.toLong >= batchId)
    if (!alreadyCommitted) {
      val since = md.metadata.get(SinceCompactKey).map(_.toLong).getOrElse(0L) + 1
      val willCompact = compactEvery > 0 && since >= compactEvery
      val meta = Map(bk -> batchId.toString, SinceCompactKey -> since.toString)
      // opCol: Debezium-style batches where 'D' rows are delete markers
      opCol match {
        case Some(c) => Ktk.mergeCdc(spark, base, uuid, batch, keys, c,
          deleteOp = deleteOp, extraMetadata = meta, evolveSchema = evolveSchema)
        case None    => Ktk.merge(spark, base, uuid, batch, keys,
          extraMetadata = meta, evolveSchema = evolveSchema)
      }
      if (willCompact)
        Ktk.compact(spark, base, uuid, extraMetadata = Map(SinceCompactKey -> "0"))
    }
  }

  /** Commit one micro-batch as a COMPLETE-mode snapshot (exactly once):
    * the batch replaces the table's entire content in ONE versioned commit
    * (`replaceAll` — the same content swap as `INSERT OVERWRITE`, so
    * history and time travel stay intact and gc reclaims the old files
    * later). The natural sink for a streaming aggregation running in
    * Complete output mode, where every trigger re-emits the full result.
    */
  def commitBatchComplete(batch: DataFrame, base: String, uuid: String, batchId: Long,
                          sortBy: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val md = DatasetMetadata.load(spark, base, uuid)
    val bk = batchKeyFor(spark)
    val alreadyCommitted = md.metadata.get(bk).exists(_.toLong >= batchId)
    if (!alreadyCommitted) {
      Ktk.update(spark, base, uuid, Some(batch), sortBy = sortBy,
        replaceAll = true,
        extraMetadata = Map(bk -> batchId.toString))
      ()
    }
  }

  /** Attach the dataset as the sink of a streaming DataFrame. */
  def writeStream(df: DataFrame, base: String, uuid: String, checkpoint: String,
                  trigger: Trigger = Trigger.AvailableNow(),
                  sortBy: Seq[String] = Nil, compactEvery: Int = 0): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch, base, uuid, batchId, sortBy, compactEvery)
      }
      .start()

  /** Attach the dataset as a DEDUPING ingest sink ([[commitBatchDeduped]]
    * per micro-batch): each batch keeps only content not already
    * ingested, and the admitting commit extends the dataset's persisted
    * hash history exactly once. Single writer per dataset (see
    * [[commitBatchDeduped]]).
    */
  def dedupIngestStream(df: DataFrame, base: String, uuid: String,
                        checkpoint: String, idCol: String, textCol: String,
                        trigger: Trigger = Trigger.AvailableNow(),
                        hashCol: String = "content_hash",
                        sortBy: Seq[String] = Nil, compactEvery: Int = 0,
                        fpp: Double = 0.01): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatchDeduped(batch, base, uuid, idCol, textCol, batchId,
          hashCol, sortBy, compactEvery, fpp)
      }
      .start()

  /** Attach the dataset as a NEAR-DEDUPING ingest sink
    * ([[commitBatchNearDeduped]] per micro-batch): each batch keeps only
    * content that is not a MinHash near-duplicate of anything already
    * ingested, and the admitting commit extends the persisted signature
    * history exactly once. Single writer per dataset.
    */
  def nearDedupIngestStream(df: DataFrame, base: String, uuid: String,
                            checkpoint: String, idCol: String, textCol: String,
                            trigger: Trigger = Trigger.AvailableNow(),
                            threshold: Double = 0.8,
                            shingleK: Int = 5, numHashes: Int = 128,
                            bands: Int = 32, maxBucket: Int = 100000,
                            sigCol: String = "sig", bandsCol: String = "bands",
                            sortBy: Seq[String] = Nil, compactEvery: Int = 0): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatchNearDeduped(batch, base, uuid, idCol, textCol, batchId,
          threshold, shingleK, numHashes, bands, maxBucket, sigCol, bandsCol,
          sortBy, compactEvery)
      }
      .start()

  /** Attach the dataset as a keyed UPSERT sink (CDC mirror). `opCol`
    * enables full insert/update/delete traffic: rows carrying the delete
    * marker (`deleteOp`) tombstone their keys instead of landing.
    * `versionCol` collapses each micro-batch to its final image per key
    * first ([[collapseByVersion]]) — required when one batch can span
    * several upstream commits (consumer downtime); without it batches
    * must carry at most one image per key.
    */
  def upsertStream(df: DataFrame, base: String, uuid: String, checkpoint: String,
                   keys: Seq[String], trigger: Trigger = Trigger.AvailableNow(),
                   compactEvery: Int = 0,
                   opCol: Option[String] = None,
                   deleteOp: String = "D",
                   versionCol: Option[String] = None): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val collapsed = versionCol match {
          case Some(v) => collapseByVersion(batch, keys, v, opCol, deleteOp)
          case None    => batch
        }
        commitBatchUpsert(collapsed, base, uuid, batchId, keys, compactEvery,
          opCol, deleteOp = deleteOp)
      }
      .start()
}
