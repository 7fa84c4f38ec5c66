package graft.ops

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property test: Dedup.paragraphDedup must agree with a sequential
  * reference implementation (walk docs in id order, keep a paragraph iff
  * its normalized form was never seen before or is blank) on arbitrary
  * corpora with heavy cross-document repetition.
  */
class ParagraphDedupPropertySpec extends SparkSpec {
  import spark.implicits._

  // small paragraph vocabulary → dense cross-document duplication;
  // variants differ only in case/whitespace to exercise normalization
  private val paraGen: Gen[String] = Gen.oneOf(
    "alpha beta", "ALPHA  beta", "gamma", "  gamma ", "delta epsilon zeta",
    "unique", "", " ", "eta theta")

  private val docGen: Gen[String] =
    Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, paraGen)).map(_.mkString("\n"))

  private def norm(p: String): String =
    p.trim.toLowerCase.replaceAll("\\s+", " ")

  private def reference(docs: Seq[(Long, String)]): Map[Long, String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    docs.sortBy(_._1).flatMap { case (id, text) =>
      val kept = text.split("\n", -1).filter { p =>
        val n = norm(p)
        n.isEmpty || seen.add(n)
      }
      if (kept.isEmpty) None else Some(id -> kept.mkString("\n"))
    }.toMap
  }

  test("paragraphDedup equals the sequential first-occurrence reference") {
    val corpusGen = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, docGen))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val prop = Prop.forAll(corpusGen) { corpus =>
      val df = corpus.toDF("id", "text")
      val got = Dedup.paragraphDedup(df, "id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got == reference(corpus)
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    withClue(result.status.toString)(result.passed shouldBe true)
  }

  test("hot paragraph in 50% of docs: first occurrence survives, result exact") {
    // the skew case the agg+join shape exists for: one paragraph repeated
    // across half the corpus must not degrade correctness (and, per the
    // PlanShapeSpec pin, never funnels through a single window task)
    val n = 2000
    val corpus = (0L until n).map { i =>
      val text = if (i % 2 == 0) s"SHARED COOKIE BANNER\nunique paragraph $i"
      else s"unique paragraph $i"
      (i, text)
    }
    val df = corpus.toDF("id", "text").repartition(16)
    val got = Dedup.paragraphDedup(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got shouldBe reference(corpus)
    got(0L) should include("SHARED COOKIE BANNER")
    got(2L) should not include "SHARED COOKIE BANNER"
  }

  // keep-best reference: the surviving occurrence of each normalized
  // paragraph is the first of ORDER BY score DESC NULLS LAST, id, pos
  private def referenceKeepBest(
      docs: Seq[(Long, String, Option[Double])]): Map[Long, String] = {
    case class Occ(id: Long, pos: Int, para: String, score: Option[Double])
    val occs = docs.flatMap { case (id, text, score) =>
      text.split("\n", -1).zipWithIndex.map { case (p, i) => Occ(id, i, p, score) }
    }
    val winners = occs.filter(o => norm(o.para).nonEmpty)
      .groupBy(o => norm(o.para))
      .map { case (_, os) => os.minBy(o => (o.score.isEmpty, -o.score.getOrElse(0.0), o.id, o.pos)) }
      .map(o => (o.id, o.pos)).toSet
    occs.filter(o => norm(o.para).isEmpty || winners((o.id, o.pos)))
      .groupBy(_.id)
      .map { case (id, os) => id -> os.sortBy(_.pos).map(_.para).mkString("\n") }
  }

  test("paragraphDedupKeepBest equals the argmax-score reference") {
    // scores collide → tiebreaks exercised; null scores must rank last
    val scoreGen: Gen[Option[Double]] = Gen.frequency(
      1 -> Gen.const(None), 3 -> Gen.chooseNum(0, 2).map(s => Some(s.toDouble)))
    val corpusGen = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, Gen.zip(docGen, scoreGen)))
      .map(_.zipWithIndex.map { case ((t, s), i) => (i.toLong, t, s) })
    val prop = Prop.forAll(corpusGen) { corpus =>
      val df = corpus.toDF("id", "text", "score")
      val got = Dedup.paragraphDedupKeepBest(df, "id", "text", "score")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got == referenceKeepBest(corpus)
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    withClue(result.status.toString)(result.passed shouldBe true)
  }

  test("paragraphDedupKeepBest: hot paragraph survives only in the best-scored doc") {
    val n = 1000
    val corpus = (0L until n).map { i =>
      val text = if (i % 2 == 0) s"SHARED COOKIE BANNER\nunique paragraph $i"
      else s"unique paragraph $i"
      (i, text, Option((i % 7).toDouble))
    }
    val df = corpus.toDF("id", "text", "score").repartition(16)
    val got = Dedup.paragraphDedupKeepBest(df, "id", "text", "score")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got shouldBe referenceKeepBest(corpus)
    // winner is the least even id with score 6 (= id % 7): id 6
    got(6L) should include("SHARED COOKIE BANNER")
    got(0L) should not include "SHARED COOKIE BANNER"
  }
}
