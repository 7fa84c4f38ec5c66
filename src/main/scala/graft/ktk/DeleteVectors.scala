package graft.ktk

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deletion-vector fragments: the one place that reads them, and the
  * writer of the manifest those reads select by.
  *
  * A fragment is an immutable, nonce-named parquet dir under
  * `<uuid>/deletes/` of `(label, pos)` rows — a row of the table is DELETED
  * iff some fragment of its snapshot lists its (file label,
  * `_metadata.row_index`) pair — plus a `_labels.json` manifest naming the
  * labels it touches (underscore-prefixed, so parquet scans ignore it).
  *
  * Reads are planned like data reads ([[SnapshotScan]]): a read over labels
  * L takes only the fragments whose manifest names a label in L, and scans
  * their part files from one driver `listStatus` per fragment, cached with
  * the manifest's labels (fragments never change). No Spark listing job, no
  * schema inference, whatever the fragment count.
  */
private[graft] object DeleteVectors {

  private val Schema: StructType = StructType(Seq(
    StructField("label", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  private val LabelsManifest = "_labels.json"

  private def newName(): String =
    s"dv.${java.util.UUID.randomUUID.toString.replace("-", "").take(8)}.parquet"

  private def dir(base: String, uuid: String): String =
    s"$base/$uuid/${DatasetMetadata.DeletesDirName}"

  /** One fragment's listing: its part files (relative to the deletes dir,
    * with sizes) and the labels its manifest names.
    */
  private final case class Fragment(parts: Seq[(String, Long)], labels: Set[String])

  /** Per-fragment cache, one entry per fragment path this JVM has read;
    * LRU-bounded.
    */
  private val cache: java.util.LinkedHashMap[String, Fragment] =
    new java.util.LinkedHashMap[String, Fragment](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Fragment]): Boolean =
        size() > 4096
    }

  private def scan(spark: SparkSession, base: String, uuid: String,
      parts: Seq[(String, Long)]): DataFrame =
    SnapshotScan.files(spark, dir(base, uuid), Schema, Nil, parts)

  private def fragment(spark: SparkSession, base: String, uuid: String, name: String): Fragment = {
    val path = s"${dir(base, uuid)}/$name"
    cache.synchronized(Option(cache.get(path))).getOrElse {
      val fsys = DatasetMetadata.fs(spark, base)
      val listing = fsys.listStatus(new Path(path)).toSeq
      // HadoopFSUtils.shouldFilterOutPathName: `_`/`.` names are not data
      val parts = listing.map(s => s.getPath.getName -> s.getLen)
        .filterNot { case (n, _) => n.startsWith("_") || n.startsWith(".") }
        .sorted.map { case (n, len) => s"$name/$n" -> len }
      val labels =
        if (listing.exists(_.getPath.getName == LabelsManifest)) {
          val in = fsys.open(new Path(s"$path/$LabelsManifest"))
          val bytes = try in.readAllBytes() finally in.close()
          val m = new com.fasterxml.jackson.databind.ObjectMapper()
          m.readValue(bytes, classOf[Array[String]]).toSet
        } else // written before manifests existed: one distinct-label job, once
          scan(spark, base, uuid, parts).select("label").distinct()
            .collect().map(_.getString(0)).toSet
      val f = Fragment(parts, labels)
      cache.synchronized(cache.put(path, f))
      f
    }
  }

  /** The labels `md`'s fragments touch — the file set that must pay the
    * merge-on-read anti-join. No Spark job.
    */
  def labels(spark: SparkSession, base: String, md: DatasetMetadata): Set[String] =
    md.deleteFragments.flatMap(fragment(spark, base, md.uuid, _).labels).toSet

  /** The `(label, pos)` rows of those of `md`'s fragments whose manifest
    * names a label in `labels`; None when none does. Rows of other labels
    * in a selected fragment stay.
    */
  def read(spark: SparkSession, base: String, md: DatasetMetadata,
      labels: Set[String]): Option[DataFrame] = {
    val parts = md.deleteFragments.map(fragment(spark, base, md.uuid, _))
      .filter(_.labels.exists(labels)).flatMap(_.parts)
    Option.when(parts.nonEmpty)(scan(spark, base, md.uuid, parts))
  }

  /** `rows` minus the rows a fragment deletes: the one way a table read,
    * a delete, an update, a merge or a rewrite applies deletion vectors.
    * `rows` carries each row's file label and position in the columns
    * `label` and `pos`; `labels` are the files it reads, and only the
    * fragments naming one of them are read.
    */
  def dropDeleted(spark: SparkSession, base: String, md: DatasetMetadata,
      labels: Set[String], rows: DataFrame,
      label: String = "__label", pos: String = "__pos"): DataFrame =
    read(spark, base, md, labels) match {
      case None => rows
      case Some(dv) =>
        rows.join(dv.select(col("label").as("__dvl"), col("pos").as("__dvp")),
          col(label) === col("__dvl") && col(pos) === col("__dvp"), "left_anti")
    }

  /** Write `pairs` as one fragment of dataset `uuid` and return its name
    * and row count, or None when `pairs` is empty (no rows matched —
    * callers skip the commit). Files bounded by the cluster parallelism
    * without a shuffle (a DV row is ~30 bytes; even a mass delete stays
    * small next to the data it tombstones). The count and the label
    * manifest come from the write's own tasks (accumulators fed in its
    * final stage, labels deduplicated per task — no extra job); the
    * manifest lands inside the fragment dir BEFORE the metadata commit
    * references the fragment.
    */
  def write(spark: SparkSession, base: String, uuid: String,
      pairs: DataFrame): Option[(String, Long)] = {
    val name = newName()
    val rows = spark.sparkContext.longAccumulator
    val touched = spark.sparkContext.collectionAccumulator[String]
    val li = pairs.schema.fieldIndex("label")
    Ktk.atomicSidecarWrite(spark, dir(base, uuid), name) { tmp =>
      pairs.coalesce(spark.sparkContext.defaultParallelism)
        .mapPartitions { it =>
          val seen = scala.collection.mutable.HashSet.empty[String]
          it.map { r => rows.add(1); seen += r.getString(li); r } ++ {
            seen.foreach(touched.add); Iterator.empty
          }
        }(Encoders.row(pairs.schema))
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    val n = rows.value.longValue
    val path = new Path(s"${dir(base, uuid)}/$name")
    val fsys = DatasetMetadata.fs(spark, base)
    if (n == 0L) {
      fsys.delete(path, true)
      None
    } else {
      import scala.jdk.CollectionConverters._
      val labels = touched.value.asScala.distinct.toArray
      val out = fsys.create(new Path(path, LabelsManifest), true)
      try out.write(new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsBytes(labels))
      finally out.close()
      Some(name -> n)
    }
  }

  /** Per-snapshot LRU for [[collect]]: fragments are immutable and keyed
    * by the commit version, so repeated plannings of the same DV-bearing
    * snapshot (a dashboard's 50 SELECTs) pay the collection jobs ONCE, not
    * per query.
    */
  private val collected: java.util.LinkedHashMap[(String, String, Long, Set[String]), Map[String, Array[Long]]] =
    new java.util.LinkedHashMap[(String, String, Long, Set[String]), Map[String, Array[Long]]](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Long, Set[String]), Map[String, Array[Long]]]): Boolean =
        size() > 8
    }

  /** Driver-side collection of the tombstones touching `labels`, as a
    * per-label SORTED position array — the shippable form a DSv2 reader
    * needs to apply deletion vectors per file (Delta ships per-file DV
    * bitmaps the same way). Bounded by `maxRows`: the count runs first
    * (one cheap job over the small fragment files), so an over-limit
    * dataset fails with guidance BEFORE anything is materialized on the
    * driver.
    */
  def collect(spark: SparkSession, base: String, md: DatasetMetadata,
      labels: Set[String], maxRows: Long): Map[String, Array[Long]] = {
    import spark.implicits._
    val key = (base, md.uuid, md.version, labels)
    collected.synchronized(Option(collected.get(key))) match {
      case Some(hit) => return hit
      case None      => ()
    }
    val dv = read(spark, base, md, labels).getOrElse(return Map.empty)
      .join(broadcast(labels.toSeq.toDF("label")), Seq("label"), "left_semi")
    val total = dv.count()
    if (total > maxRows)
      throw new IllegalStateException(
        s"dataset '${md.uuid}' has $total pending row-level deletes (limit $maxRows " +
          "for the DSv2 scan path). Materialize them first with " +
          "Ktk.materializeDeletes / Ktk.compact, read via Ktk.readTable, or raise " +
          ".option(\"maxDvScanRows\", n)")
    val out = dv.groupBy("label").agg(collect_set("pos").as("ps"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray.sorted)
      .toMap
    collected.synchronized(collected.put(key, out))
    out
  }
}
