package graft.ktk

import scala.util.{Failure, Success, Try}

import graft.core.{PredLiteral, Predicates}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** The distributed index and zone-map probes the driver-side probes
  * replaced, kept as test oracles: `read.parquet → filter(toColumn) →
  * explode → distinct` for the index, the [[Sidecars.Zone.checkFn]] UDF
  * filter for zone maps, typed by the zone column's `dt` as the probe
  * types it (so the zone oracle pins the driver-side row read, not the
  * range check itself).
  *
  * The batched forms answer many literals of one column from one scan: each
  * literal's filter expression becomes a column evaluated on every sidecar
  * row, exactly as its own filter would evaluate it. A batch that fails is
  * answered literal by literal, so a literal that throws alone throws just
  * as its own oracle does.
  */
object SidecarOracle {

  def index(spark: SparkSession, path: String, l: PredLiteral): Set[String] =
    spark.read.parquet(path)
      .filter(Predicates(Seq(Seq(l.copy(col = "value")))).toColumn)
      .select(explode(col("partitions")).as("label"))
      .distinct()
      .collect().map(_.getString(0)).toSet

  def zone(spark: SparkSession, path: String, dt: DataType, l: PredLiteral): Set[String] = {
    val check = Sidecars.Zone.checkFn(l, dt)
    val may = udf { (mn: String, mx: String) => mn != null && mx != null && check(mn, mx) }
    spark.read.parquet(path).filter(may(col("mn"), col("mx")))
      .select(col("label")).collect().map(_.getString(0)).toSet
  }

  /** [[index]] for every literal of `ls` (all on one column) from one scan. */
  def index(spark: SparkSession, path: String, ls: Seq[PredLiteral]): Seq[Try[Set[String]]] =
    batched(ls, index(spark, path, _: PredLiteral)) {
      val lists = ls.map { l =>
        collect_list(when(Predicates(Seq(Seq(l.copy(col = "value")))).toColumn, col("partitions")))
      }
      val row = spark.read.parquet(path).agg(lists.head, lists.tail: _*).head()
      ls.indices.map(i => row.getSeq[Seq[String]](i).flatten.toSet)
    }

  /** [[zone]] for every literal of `ls` (all on one column) from one scan. */
  def zone(spark: SparkSession, path: String, dt: DataType,
      ls: Seq[PredLiteral]): Seq[Try[Set[String]]] =
    batched(ls, zone(spark, path, dt, _: PredLiteral)) {
      val mays = ls.map { l =>
        val check = Sidecars.Zone.checkFn(l, dt)
        udf { (mn: String, mx: String) => mn != null && mx != null && check(mn, mx) }
          .apply(col("mn"), col("mx"))
      }
      val rows = spark.read.parquet(path).select(col("label") +: mays: _*).collect()
      ls.indices.map(i => rows.filter(_.getBoolean(i + 1)).map(_.getString(0)).toSet)
    }

  private def batched(ls: Seq[PredLiteral], one: PredLiteral => Set[String])(
      all: => Seq[Set[String]]): Seq[Try[Set[String]]] =
    Try(all) match {
      case Success(sets) => sets.map(Success(_))
      case Failure(_)    => ls.map(l => Try(one(l)))
    }
}
