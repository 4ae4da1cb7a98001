package graft.similarity

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DiskANN's search-based prune candidates (KnnGraph.searchCandidates):
  * each node's pool is the visited set of a beam search for its own
  * vector — it contains the APPROACH PATH, which is what keeps an
  * α-pruned graph navigable at any build depth (the r14 converged-arm
  * regression measured the 2-hop pool losing exactly that). */
class SearchCandidatesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 8

  private def corpus() = {
    import spark.implicits._
    import graft.similarity.VectorOps.toDouble
    graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", toDouble($"embedding").as("v"))
      .filter($"vec_id" < 256).cache()
  }

  test("pool contains the current edges, is L-bounded per node, scored, and deterministic") {
    import spark.implicits._
    val vecs = corpus()
    val graph = KnnGraph.build(vecs, K, rounds = 2).last
    val beam = 3
    val cand = KnnGraph.searchCandidates(vecs, graph, K, beamRounds = beam)
      .localCheckpoint(true)
    // 1. the pool SUPERSETS the current edge set (robustPrune over it
    //    can therefore never lose an edge the graph already earned)
    val missing = graph.select($"src", $"nbr")
      .join(cand.select($"src", $"nbr"), Seq("src", "nbr"), "left_anti")
    assert(missing.isEmpty, "a current edge is missing from the pool")
    // 2. L bound: per node ≤ (1 + beam·K visited, self excluded) + K own
    //    out-edges — the boundedness robustPrune's scaladoc demands
    val maxPer = cand.groupBy($"src").agg(count(lit(1)).as("c"))
      .agg(max($"c")).head().getLong(0)
    assert(maxPer <= 1 + beam * K + K,
      s"a node's pool holds $maxPer rows — the L bound is broken")
    // 3. scored with the shared exact cosine (spot-check one row)
    val row = cand.head()
    val vOf = vecs.as[(Long, Seq[Double])].collect().toMap
    val expect = TopK.cosineLocal(
      vOf(row.getLong(0)).toArray, vOf(row.getLong(1)).toArray)
    assert(row.getDouble(2) == expect, "cos column is not the exact cosine")
    // 4. deterministic end to end (ring entries, deterministic keeps):
    //    a second run yields the identical candidate set
    val again = KnnGraph.searchCandidates(vecs, graph, K, beamRounds = beam)
    assert(cand.select($"src", $"nbr").except(
        again.select($"src", $"nbr")).isEmpty &&
      again.select($"src", $"nbr").except(
        cand.select($"src", $"nbr")).isEmpty)
    // 5. no self-candidates (a node must never diversify onto itself)
    assert(cand.filter($"src" === $"nbr").isEmpty)
    // 6. query slicing is EXACT: per-query beams are independent, so
    //    the union of sliced pools equals the single-wave pool — the
    //    bounded-working-set knob cannot change the artifact (r15: one
    //    unsliced wave at 200k queries filled the probe box's disk)
    val sliced = KnnGraph.searchCandidates(vecs, graph, K,
      beamRounds = beam, querySlices = 4)
    assert(sliced.select($"src", $"nbr").except(
        cand.select($"src", $"nbr")).isEmpty &&
      cand.select($"src", $"nbr").except(
        sliced.select($"src", $"nbr")).isEmpty,
      "sliced candidate generation diverged from the single wave")
    vecs.unpersist()
  }
}
