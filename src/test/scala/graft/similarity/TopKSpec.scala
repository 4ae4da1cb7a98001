package graft.similarity

import graft.TestSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** The driver twin of the top-k rule ([[TopK.local]]) against the
  * relational keep it stands in for: a `row_number` window by (score
  * DESC, node ASC) over the same rows. Scores draw NaN, ±0.0, ±∞ and
  * repeated values on purpose — the cases where Java's `Double.compare`
  * (and Scala's default `Double` ordering) part ways with Spark's
  * `nanSafeCompareDoubles`. */
class TopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def check(prop: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  /** Spark's keep over `cases` (one qid per case): each case's kept
    * node ids in rank order. One job for the whole batch. */
  private def sparkKeep(cases: Seq[(Seq[(Long, Double)], Int)]): Map[Long, Seq[Long]] = {
    import spark.implicits._
    val rows = cases.zipWithIndex.flatMap { case ((pairs, k), q) =>
      pairs.map { case (node, score) => (q.toLong, node, score, k) }
    }
    rows.toDF("qid", "node", "score", "k")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"score".desc, $"node")))
      .filter($"rn" <= $"k")
      .select($"qid", $"node", $"rn").as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }
  }

  private val score: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(Double.NaN, -0.0, 0.0),
    3 -> Gen.oneOf(0.5, -0.5, 1.0, -1.0),
    1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity),
    3 -> Gen.choose(-1.0, 1.0))

  private val oneCase: Gen[(Seq[(Long, Double)], Int)] = for {
    n <- Gen.choose(1, 12)
    nodes <- Gen.pick(n, -30L to 30L)
    scores <- Gen.listOfN(n, score)
    k <- Gen.choose(1, n + 2)
  } yield (nodes.toSeq.zip(scores), k)

  test("driver top-k equals Spark's row_number keep under NaN, ±0.0 and tied scores") {
    check(Prop.forAll(Gen.listOfN(40, oneCase)) { cases =>
      val viaSpark = sparkKeep(cases)
      cases.zipWithIndex.forall { case ((pairs, k), q) =>
        TopK.local(pairs, k).map(_._1) == viaSpark.getOrElse(q.toLong, Nil)
      }
    })
  }

  test("a -0.0 / 0.0 tie falls through to the id: keep 1 of {(3, -0.0), (4, 0.0)} is node 3") {
    val pairs = Seq((3L, -0.0), (4L, 0.0))
    assert(TopK.local(pairs, 1).map(_._1) == Seq(3L))
    assert(sparkKeep(Seq((pairs, 1))) == Map(0L -> Seq(3L)))
    // both orders of the input, and the same tie through the comparator
    assert(TopK.local(pairs.reverse, 1).map(_._1) == Seq(3L))
    assert(TopK.nanSafeCompare(-0.0, 0.0) == 0)
  }
}
