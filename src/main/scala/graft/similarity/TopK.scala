package graft.similarity

import graft.similarity.VectorOps.cosine
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** THE top-k rule of every similarity path: per query, keep the first
  * `keep` candidates by (score, node ASC) under Spark's double order —
  * NaN greatest (so first under DESC) and -0.0 == 0.0, the id breaking
  * every score tie. Defined ONCE here in its four shapes: the
  * exact-cosine rank over a candidate frame ([[exact]]), the
  * brute-force ground truth ([[truth]]), the quantized ADC rank
  * ([[adc]]), and the driver-side twin ([[local]]) the coordinated head
  * and the grouped prune replay. A tie-break fix lands in one place.
  *
  * The relational shapes add no hints and no checkpoints of their own
  * (except [[truth]]'s bounded query broadcast, which IS its plan):
  * callers pass `broadcast(queries)` where the query side is bounded,
  * and checkpoint where they re-read a result. */
object TopK {

  /** The 1-based per-query position the relational shapes compute;
    * naming it in `carry` keeps it in the output (a caller reading a
    * nested prefix of ONE keep — sq24's ADC top-k inside its top-2k
    * shortlist — then needs no second rank). */
  val Rank = "rn"

  /** Exact-cosine top-`keep` per query. `cand` is (qid, node, carry…),
    * `queries` is (qid, v), `vectors` is (vec_id, v). The vectors join
    * is INNER: a candidate with no vector row (an erased node, a
    * phantom entry) is never answered. Both sides project to the same
    * (id, vector) shape, so when `queries` and `vectors` come from one
    * relation (the every-node walks of [[KnnGraph.searchCandidates]])
    * one shuffle of it serves both joins. */
  def exact(cand: DataFrame, queries: DataFrame, vectors: DataFrame,
      keep: Int, carry: Seq[String] = Nil): DataFrame =
    top(cand.join(queries.select(col("qid"), col("v").as("qv")), Seq("qid"))
        .join(vectors.select(col("vec_id").as("node"), col("v").as("cv")), Seq("node")),
      cosine(col("qv"), col("cv")).desc, keep, carry)

  /** Brute-force exact top-`keep` of every query (qid, v) over every
    * other vector (vec_id, v) — the ground truth recall is measured
    * against. The BOUNDED query side broadcasts and the corpus streams
    * past it: a BroadcastNestedLoopJoin on `qid <> node`, never a
    * cartesian. Returns (qid, node). */
  def truth(queries: DataFrame, vectors: DataFrame, keep: Int): DataFrame =
    top(broadcast(queries.select(col("qid"), col("v").as("qv")))
        .join(vectors.select(col("vec_id").as("node"), col("v").as("cv")),
          col("qid") =!= col("node")),
      cosine(col("qv"), col("cv")).desc, keep, Nil)

  /** ADC top-`keep` per query — [[exact]]'s quantized twin: `cand`
    * (qid, node, carry…) inner-joins the query LUTs `luts` (qid,
    * lut0…, [[Pq.queryLuts]]) and the codes `codes` (node, c0…, as
    * [[KnnGraph.fetchCodes]] returns them), ranked by ascending
    * [[Pq.adcCol]] distance. A node without a code row is never kept. */
  def adc(cand: DataFrame, luts: DataFrame, codes: DataFrame, keep: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val m = luts.columns.count(_.startsWith("lut"))
    top(cand.join(luts, Seq("qid")).join(codes, Seq("node")),
      Pq.adcCol(m).asc, keep, carry)
  }

  private def top(scored: DataFrame, score: Column, keep: Int,
      carry: Seq[String]): DataFrame =
    scored
      .withColumn(Rank, row_number().over(
        Window.partitionBy(col("qid")).orderBy(score, col("node"))))
      .filter(col(Rank) <= keep)
      .select((Seq("qid", "node") ++ carry).map(col): _*)

  /** Spark SQL's double comparison, replayed driver-side —
    * `nanSafeCompareDoubles`: NaN is GREATEST (and equal to itself),
    * and -0.0 == 0.0. Java's `Double.compare` (and Scala's default
    * `Double` ordering) agrees on NaN but orders -0.0 < 0.0, and Java's
    * primitive `<=` makes EVERY NaN comparison false — both diverge
    * from the relational operators the local replays stand in for (a
    * zero vector's NaN cosine survived a cover test it should fail, and
    * ±0.0 ties broke by sign instead of falling through to the id
    * tie-break). Every local twin of a Spark sort or BinaryComparison
    * routes through THIS. */
  def nanSafeCompare(x: Double, y: Double): Int = {
    val xN = java.lang.Double.isNaN(x)
    val yN = java.lang.Double.isNaN(y)
    if ((xN && yN) || (x == y)) 0
    else if (xN) 1
    else if (yN) -1
    else if (x > y) 1 else -1
  }

  /** Driver-side replica of [[graft.functions.CosineSimilarity]]'s
    * arithmetic — same accumulation order, same final division, so
    * local ranks and α-cover tests are bit-identical to the native
    * expression's. */
  def cosineLocal(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
    }
    dot / math.sqrt(nx * ny)
  }

  /** Whether (id, score) `a` ranks before `b`: score DESC under
    * [[nanSafeCompare]], then id ASC — the relational shapes' window
    * order, one comparison. */
  def before(a: (Long, Double), b: (Long, Double)): Boolean = {
    val c = nanSafeCompare(b._2, a._2)
    c < 0 || (c == 0 && a._1 < b._1)
  }

  /** The driver twin of one query's keep: the first `k` (id, score)
    * pairs in [[before]] order. */
  def local(cands: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] =
    cands.sortWith(before).take(k)
}
