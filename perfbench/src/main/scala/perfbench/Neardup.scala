package perfbench

import org.apache.spark.sql.functions.{col, length}

import graft.ktk.{DatasetMetadata, Ktk}
import graft.ops.Dedup

/** A corpus with planted near-duplicate clusters, read back and curated by
  * MinHash connected components (min id survives) and keep-best (longest
  * text survives). Drives graft.ops; the survivors must be exactly one per
  * planted cluster plus every background document.
  */
final class Neardup(docs: Int, clusters: Int, seed: Long) {
  import Neardup._

  private val name = "scan_dedup"
  private val uuid = "docs"
  private var dir = ""

  private lazy val texts: Array[String] = Array.tabulate(docs)(i => text(seed, clusters)(i.toLong))
  /** Planted cluster members, by cluster. */
  private lazy val planted: Seq[Seq[Int]] =
    (0 until clusters).map(c => (0 until size(seed, c)).map(r => c * Slot + r))

  def setup(env: Env, d: String): Unit = {
    dir = d
    checkPlanted()
    val spark = env.spark
    import spark.implicits._
    val (s, c) = (seed, clusters)
    val df = spark.range(docs.toLong).map(i => Doc(i, (i % Buckets).toInt, text(s, c)(i))).toDF()
      .repartition(col("bucket"))
    env.call("store", "store")(Ktk.store(spark, dir, uuid, df, partitionOn = Seq("bucket")))
    env.add("store.files_written", DatasetMetadata.load(spark, dir, uuid).partitions.size.toDouble)
  }

  /** The generator's own guarantee: planted pairs at Jaccard >= 0.9, a
    * sample of background pairs at <= 0.3 (character 5-gram shingles).
    */
  private def checkPlanted(): Unit = {
    planted.foreach { m =>
      for (a <- m; b <- m if a < b) {
        val j = jaccard(texts(a), texts(b))
        require(j >= 0.9, s"planted pair ($a, $b) has Jaccard $j < 0.9")
      }
    }
    val background = (0 until docs).filterNot(memberOf.contains)
    (0 until 200).foreach { q =>
      val a = background(Gen.below(seed, q, 60, background.size).toInt)
      val b = background(Gen.below(seed, q, 61, background.size).toInt)
      if (a != b) {
        val j = jaccard(texts(a), texts(b))
        require(j <= 0.3, s"background pair ($a, $b) has Jaccard $j > 0.3")
      }
    }
  }

  private lazy val memberOf: Map[Int, Int] = planted.zipWithIndex.flatMap { case (m, c) => m.map(_ -> c) }.toMap

  private lazy val background: Set[Int] = (0 until docs).filterNot(memberOf.contains).toSet

  /** One curation pass of `kind` (`cc` or `keepbest`) over the stored corpus. */
  def dedup(env: Env, i: Int, kind: String): Outcome = {
    val spark = env.spark
    def run(want: Set[Int])(dedup: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Outcome = {
      val (got, took) = env.timed(kind, i) {
        val df = env.call("read_plan", "readTable")(Ktk.readTable(spark, dir, uuid, columns = Seq("doc_id", "text")))
        env.call("dedup", kind)(dedup(df).select("doc_id").collect().map(_.getLong(0).toInt).toSet)
      }
      if (env.traced) env.add("dedup.survivors", got.size.toDouble)
      val missing = (want -- got).toSeq.sorted.take(5)
      val extra = (got -- want).toSeq.sorted.take(5)
      Outcome(kind, took, env.check(got == want,
        s"$name op $i ($kind): ${got.size} survivors, want ${want.size}; missing ${missing.mkString(",")} extra ${extra.mkString(",")}"), docs.toLong)
    }
    kind match {
      case "cc" => run(background ++ planted.map(_.min)) { df =>
        Dedup.minhashDedupCC(df, "doc_id", "text", threshold = Threshold)
      }
      case "keepbest" => run(background ++ planted.map(m => m.maxBy(d => (texts(d).length, -d)))) { df =>
        Dedup.minhashDedupCCKeepBest(df, "doc_id", "text", length(col("text")), threshold = Threshold)
      }
    }
  }
}

object Neardup {
  val Threshold = 0.6
  val Words = 100
  val Vocabulary = 5000
  val Buckets = 2
  /** Ids c * Slot until c * Slot + size(c) are cluster c's members; the
    * rest of each slot, and every id past the clusters, is background.
    */
  val Slot = 4

  final case class Doc(doc_id: Long, bucket: Int, text: String)

  def size(seed: Long, c: Int): Int = 2 + Gen.below(seed, c, 70, 3).toInt

  /** Cluster member r replaces word (r * 37 + shift) of the cluster's base
    * text; two members differ in at most two words of a hundred.
    */
  def text(seed: Long, clusters: Int)(i: Long): String = {
    val c = i / Slot
    val r = (i % Slot).toInt
    val words =
      if (c < clusters && r < size(seed, c.toInt)) {
        val w = Array.tabulate(Words)(j => Gen.below(seed, c, 1000 + j, Vocabulary))
        if (r > 0) w(((r * 37) + Gen.below(seed, c, 71, Words)).toInt % Words) = Gen.below(seed, i, 72, Vocabulary)
        w.toSeq
      } else Seq.tabulate(Words)(j => Gen.below(seed, -1 - i, 2000 + j, Vocabulary))
    words.map(w => Gen.word(seed, w)).mkString(" ")
  }

  def shingles(t: String): Set[String] = t.sliding(5).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}
