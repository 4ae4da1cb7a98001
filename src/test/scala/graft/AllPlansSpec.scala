package graft

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.scalatest.funsuite.AnyFunSuite

/** Blanket physical-plan invariant over EVERY registered query: nothing
  * may plan a CartesianProduct of data-sized inputs. Family-level
  * PlanSpec tests pin richer per-query shapes; this one stops a new
  * query (or a refactor of a shared helper) from ever shipping an
  * all-pairs join unnoticed — the single worst scale failure mode.
  *
  * Queries that deliberately cross-join ONE-ROW summary frames are
  * allowed if the product's inputs are both known single-row aggregates
  * (a 1×1 cartesian is a constant, not a blow-up); today every such join
  * broadcasts and plans as BroadcastNestedLoopJoin anyway, so the
  * allowlist is empty — keep it that way.
  */
class AllPlansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val allowCartesian: Set[String] = Set.empty

  /** Every registered query built ONCE, shared by both tests: building
    * is the expensive part (some queries run jobs while constructing),
    * and each test only reads a different view of the same plan. Each
    * plan is fixed right after its build: a later query may unpersist a
    * frame this one caches, and a plan made after that would expand the
    * cached lineage it never re-executes. */
  private lazy val plans: Seq[(String, QueryExecution)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe = fn(spark, dir).queryExecution
      qe.executedPlan
      name -> qe
    }

  /** A frame consumed N times re-executes N times (no cross-branch CSE),
    * so runaway scan counts are the recompute-explosion smell. Current
    * legitimate maximum is sq02's 12 LSH hash tables; anything above
    * needs a cache or a rethink. dq09 is exempt: its iterative fixpoint
    * stacks each ROUND's lineage into the final plan TEXT, but every
    * round is cached and materialized during the loop, so the printed
    * scans never re-execute. */
  private val maxScans = 13
  private val allowManyScans: Set[String] = Set("dq09_dup_clusters")

  test("no registered query plans a CartesianProduct or a scan explosion") {
    val scanNode = "\\(\\d+\\) Scan parquet".r
    val offenders = plans.flatMap {
      case (name, qe) =>
        val plan = qe.explainString(ExplainMode.fromString("formatted"))
        val cartesian = !allowCartesian(name) && plan.contains("CartesianProduct")
        val scans = scanNode.findAllIn(plan).size
        val explosion = !allowManyScans(name) && scans > maxScans
        if (cartesian) Some(s"$name (CartesianProduct)")
        else if (explosion) Some(s"$name ($scans scans)")
        else None
    }
    assert(offenders.isEmpty,
      s"queries with degenerate plans: ${offenders.mkString(", ")}")
  }

  /** A Window with an empty partition spec sorts its ENTIRE input into one
    * task — the single-partition-sort trap the cartesian check can't see.
    * Every allowlisted case is a global window over an ALREADY-AGGREGATED
    * summary frame orders of magnitude below corpus size (where a
    * single-partition frame is exactly right), never over data:
    *   - tq11_token_packing / pq01_training_prep / pq06_bpe_shard_packing:
    *     PrefixSum's offsets
    *     pass — an exclusive prefix over bucket-count-many (total, count)
    *     partial-agg rows (~4× shuffle parallelism, a few hundred rows);
    *     the data-sized running total is the operator's mapPartitions
    *     accumulator, precisely to avoid the global-window sort;
    *   - pq02_curriculum: ExactPercentile's cumulative-bucket-count
    *     window over per-bucket aggregates; its partitionBy(g) folds away
    *     because pq02's group column is a literal, leaving an empty spec
    *     over the same tiny bucket summary;
    *   - tq18_vocab_growth: running totals over the 10-row ingest-slice
    *     summary (corpus exploded and aggregated upstream).
    * Note the truly sequential oracle-mandated running total
    * (q08_window_running_sum) does NOT need an entry: it partitions by
    * supplier. Anything new that trips this either partitions its window
    * or earns a documented line here. */
  private val allowGlobalWindow: Set[String] = Set(
    "tq11_token_packing", "pq01_training_prep", "pq02_curriculum",
    "tq18_vocab_growth", "pq06_bpe_shard_packing")

  test("no registered query plans an unpartitioned Window over data-sized input") {
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = plans.flatMap {
      case (name, qe) if !allowGlobalWindow(name) =>
        val plan = qe.sparkPlan
        val global = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        if (global.nonEmpty) Some(s"$name (${global.size} global Window)") else None
      case _ => None
    }
    assert(offenders.isEmpty,
      s"queries with unpartitioned windows: ${offenders.mkString(", ")}")
  }
}
