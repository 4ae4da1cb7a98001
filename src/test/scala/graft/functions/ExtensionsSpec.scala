package graft.functions

import graft.TestSpark
import graft.similarity.VectorOps
import org.scalatest.funsuite.AnyFunSuite

/** Optimizer-rule + driver-side stat API coverage. */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("self-similarity rewrites to a null-safe literal") {
    import spark.implicits._
    val df = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"))
      .select(CosineSimilarity($"v", $"v").as("self"))
    val before = df.queryExecution.analyzed
    val after = CosineSelfSimilarityRule(before)
    assert(before.expressions.exists(_.exists(_.isInstanceOf[CosineSimilarity])))
    assert(!after.expressions.exists(_.exists(_.isInstanceOf[CosineSimilarity])),
      s"rule did not fire:\n$after")
    // and the unrewritten evaluation agrees with the rewrite's claim
    df.collect().foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("rule leaves distinct-argument calls untouched") {
    import spark.implicits._
    val df = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"))
    val two = df.select($"vec_id".as("ia"), $"v".as("va"))
      .crossJoin(df.select($"vec_id".as("ib"), $"v".as("vb")))
      .limit(10)
      .select(CosineSimilarity($"va", $"vb").as("c"))
    val after = CosineSelfSimilarityRule(two.queryExecution.analyzed)
    assert(after.expressions.exists(_.exists(_.isInstanceOf[CosineSimilarity])))
  }

  test("the shared session resolves graft_cosine in SQL text and runs the rule") {
    spark.range(1, 50).selectExpr("array(CAST(id AS DOUBLE), 1.0D) AS v")
      .createOrReplaceTempView("extensions_spec_vectors")
    val df = spark.sql("SELECT graft_cosine(v, v) AS self FROM extensions_spec_vectors")
    val qe = df.queryExecution
    val optimized = qe.optimizedPlan
    assert(qe.tracker.rules.contains(CosineSelfSimilarityRule.ruleName),
      "CosineSelfSimilarityRule is not among the session's optimizer rules")
    assert(optimized.expressions.exists(_.exists(_.isInstanceOf[SelfCosine])),
      s"rule did not fire:\n$optimized")
    df.collect().foreach(r => assert(r.getDouble(0) == 1.0))
  }

  test("the self-similarity rewrite answers bit for bit as the unrewritten call") {
    import spark.implicits._
    // v and w hold the same arrays under different attributes, so
    // graft_cosine(v, w) is never rewritten: it is the reference
    val edge = Seq(
      Seq(3.0, 4.0), Seq(0.0, 0.0), Seq(1e-3, 7.0, -2.5), Seq(Double.NaN, 1.0),
      Seq(Double.PositiveInfinity, 1.0), Seq(1e160, 1.0), Seq(1e-170, 0.0))
    // an RDD-backed frame: over a local relation the optimizer would
    // evaluate the projection before the rule ever saw it
    val rows = (edge :+ null).map(v => org.apache.spark.sql.Row(v, v))
    val vec = org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        new org.apache.spark.sql.types.StructType().add("v", vec).add("w", vec))
      .select(CosineSimilarity($"v", $"v").as("self"), CosineSimilarity($"v", $"w").as("ref"))
    assert(df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[SelfCosine])), "rule did not fire")
    df.collect().foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0))
      else assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), s"$r")
    }
  }

  test("df.stat.approxQuantile (A5: driver-side outlier bounds)") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    // the reference's outlier-bound idiom: p01/p99 with 0.25 relative error
    // (pyc preprocess_data@177), then filter to the inner range
    val Array(p01, p99) =
      li.stat.approxQuantile("l_extendedprice", Array(0.01, 0.99), 0.25)
    assert(p01 < p99)
    val kept = li.filter(li("l_extendedprice") >= p01 && li("l_extendedprice") <= p99).count()
    val total = li.count()
    assert(kept > total / 2 && kept <= total)
  }
}
