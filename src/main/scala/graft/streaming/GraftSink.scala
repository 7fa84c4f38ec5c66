package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.BatchShim
import org.apache.spark.sql.streaming.OutputMode

/** `df.writeStream.format("graft")` — the streaming WRITE surface of the
  * connector, completing the DSv2 story (batch read/write, streaming read
  * via `readStream.format("graft")`/`"graft-cdc"`, and now streaming write).
  *
  * Registered through [[graft.sources.GraftDataSource]]'s
  * `StreamSinkProvider`: GraftTable deliberately does NOT declare
  * `STREAMING_WRITE` (a DSv2 `StreamingWrite` would force an executor-side
  * file-writer protocol parallel to the engine's driver-orchestrated commit
  * pipeline), so Spark's `DataStreamWriter` falls back to this V1 sink —
  * the same packaging Delta uses for `DeltaSink`.
  *
  * Each micro-batch lands as ONE atomic versioned commit with the batch id
  * recorded in the commit metadata, so replays after a crash are detected
  * and skipped: exactly-once TABLE state on Spark's at-least-once
  * micro-batch contract ([[KtkSink.commitBatch]] mechanics). Output-mode
  * mapping:
  *
  *   - Append                     → incremental append commit;
  *   - Append/Update + `keys`     → keyed UPSERT ([[graft.ktk.Ktk.merge]]
  *     merge-on-read; optional `opCol` routes delete markers — the CDC
  *     mirror shape);
  *   - Complete                   → versioned full-content swap per batch
  *     (`replaceAll`, history intact) — streaming aggregations.
  *
  * Options: `uuid` (required), `keys` (comma-separated), `opCol`,
  * `deleteOp` (the opCol value marking deletes, default "D" — set to
  * "delete" when piping `readStream.format("graft-cdc")` straight in),
  * `versionCol` (a per-row commit-version column, e.g. `_commit_version`
  * from the graft-cdc source: each micro-batch is collapsed to its FINAL
  * image per key before the upsert, so a batch spanning several upstream
  * commits — normal after consumer downtime — cannot resurrect deleted
  * keys or duplicate updated ones; without it the batch must carry at most
  * one image per key, e.g. via `maxVersionsPerTrigger=1`),
  * `sortBy` (comma-separated), `compactEvery`, `evolveSchema`, plus
  * Spark's own `path` and `checkpointLocation`. Options the chosen output
  * mode cannot honor, and options the sink does not know, are REFUSED,
  * not ignored. Sidecar and deletion-vector fragments fold inside each
  * commit at the fixed bound [[graft.ktk.Sidecars.MaxFragments]]; no
  * option sets it. The target dataset must already exist
  * ([[graft.ktk.Ktk.createEmpty]] / a prior store): schema and partitioning
  * are dataset properties, not per-query choices.
  */
final class GraftSink(
    base: String,
    uuid: String,
    mode: OutputMode,
    keys: Seq[String],
    opCol: Option[String],
    deleteOp: String,
    versionCol: Option[String],
    sortBy: Seq[String],
    compactEvery: Int,
    evolveSchema: Boolean) extends Sink {

  require(uuid.nonEmpty, "graft sink requires .option(\"uuid\", <dataset>)")
  if (mode == OutputMode.Update())
    require(keys.nonEmpty,
      "Update output mode needs .option(\"keys\", ...) — per-key upsert is " +
        "the only update semantics a table sink can implement")
  if (mode == OutputMode.Complete()) {
    require(keys.isEmpty && opCol.isEmpty && versionCol.isEmpty,
      "Complete mode replaces the full table content per batch; " +
        "keys/opCol/versionCol only apply to the upsert (Append/Update + keys) shape")
    require(!evolveSchema && compactEvery == 0,
      "Complete mode refuses evolveSchema/compactEvery: each batch swaps the " +
        "full content against the dataset's declared schema and leaves no " +
        "small-file debt to compact — these options would be silently inert")
  }
  if (opCol.nonEmpty)
    require(keys.nonEmpty, "opCol (CDC delete markers) requires keys")
  if (versionCol.nonEmpty)
    require(keys.nonEmpty, "versionCol (per-key batch collapse) requires keys")
  if (keys.nonEmpty)
    require(sortBy.isEmpty,
      "sortBy only applies to append/complete commits; the keyed upsert " +
        "path does not sort (option would be silently ignored)")

  override def name(): String = s"graft.$uuid"

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the incoming frame is a streaming plan fragment; re-wrap it over the
    // same physical rows (ForeachBatchSink's mechanism) before committing
    val batch = BatchShim.materializeBatch(data)
    if (mode == OutputMode.Complete()) {
      KtkSink.commitBatchComplete(batch, base, uuid, batchId, sortBy)
    } else if (keys.nonEmpty) {
      val collapsed = versionCol match {
        case Some(v) => KtkSink.collapseByVersion(batch, keys, v, opCol, deleteOp)
        case None    => batch
      }
      // the upsert commit runs several actions over the batch (key
      // collection, tombstone join, file write) — persist the materialized
      // micro-batch so its lineage (which re-reads the source) runs once
      collapsed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try KtkSink.commitBatchUpsert(collapsed, base, uuid, batchId, keys,
        compactEvery, opCol, evolveSchema, deleteOp)
      finally { collapsed.unpersist(); () }
    } else {
      KtkSink.commitBatch(batch, base, uuid, batchId, sortBy, compactEvery)
    }
  }

  override def toString: String = s"GraftSink[$uuid, mode=$mode]"
}
