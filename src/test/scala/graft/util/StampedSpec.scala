package graft.util

import graft.TestSpark
import graft.similarity.KnnGraph
import graft.sources.Tables
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stamped metadata caches never serve a value older than the path
  * they describe: after a rewrite, an append and an erase, for each
  * shape the engine caches — a bucketed store's schema, an entries
  * sidecar, and a directory-shaped fixture table. Each mutation is made
  * by the engine's own writers where it has one; a probe cache over the
  * same path counts its loads, and the real cache's answer is checked
  * where the mutation makes it observable. */
class StampedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A probe cache over `path`: each call returns how many loads had
    * run when the served entry was loaded, so a hit repeats the last
    * number and a re-stamp advances it. */
  private def loadsAt(path: String): () => Int = {
    val cache = new Stamped[Int]
    var loads = 0
    () => cache(spark, path) { loads += 1; loads }
  }

  private def vectors(ids: Range, dim: Int = 2) = {
    import spark.implicits._
    ids.map(i => (i.toLong, Seq.tabulate(dim)(j => math.cos(i * 0.7 + j))))
      .toDF("vec_id", "v")
  }

  test("a store's schema re-stamps after a rewrite, an append and an erase") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-stamped-store").toString
    val (g, vec) = (s"$root/g", s"$root/vec")
    KnnGraph.writeVectors(vectors(0 until 40), vec, numBuckets = 4)
    KnnGraph.writeStore((0L until 39L).map(i => (i, i + 1)).toDF("src", "nbr"), g, 4)
    val probe = loadsAt(vec)
    assert(probe() == 1 && probe() == 1, "an unchanged store must hit")
    assert(KnnGraph.readStore(spark, vec).schema("v").dataType.simpleString == "array<double>")
    // rewrite with a new column type: the real cache must re-infer
    KnnGraph.writeVectors(vectors(0 until 40).select($"vec_id",
      transform($"v", _.cast("float")).as("v")), vec, numBuckets = 4)
    assert(probe() == 2)
    assert(KnnGraph.readStore(spark, vec).schema("v").dataType.simpleString == "array<float>")
    // append into an existing bucket dir (the streamed-insert shape)
    vectors(40 until 42).select($"vec_id", transform($"v", _.cast("float")).as("v"))
      .withColumn("bucket", pmod($"vec_id", lit(4L)).cast("int"))
      .write.mode("append").partitionBy("bucket").parquet(vec)
    assert(probe() == 3)
    assert(KnnGraph.readStore(spark, vec).count() == 42)
    // erase through the engine: the victims' bucket is rewritten
    KnnGraph.eraseStored(spark, g, Seq(5L), Some(vec))
    assert(probe() == 4)
    assert(KnnGraph.readStore(spark, vec).filter($"vec_id" === 5L).isEmpty)
  }

  test("an entries sidecar re-stamps after a rewrite, an append and an erase") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-stamped-entries").toString
    val (g, vec) = (s"$root/g", s"$root/vec")
    val vecs = vectors(0 until 40)
    KnnGraph.writeVectors(vecs, vec, numBuckets = 4)
    KnnGraph.writeStore((0L until 39L).map(i => (i, i + 1)).toDF("src", "nbr"), g, 4)
    val probe = loadsAt(s"$vec/_graft_entries")
    def entryIds = KnnGraph.hashEntries(spark, vec).map(_._1).toSet
    KnnGraph.writeHashEntries(vecs, vec, slots = 4)
    assert(probe() == 1 && probe() == 1, "an unchanged sidecar must hit")
    assert(entryIds.size == 4)
    KnnGraph.writeHashEntries(vecs, vec, slots = 8)
    assert(probe() == 2)
    assert(entryIds.size == 8, "a rewritten sidecar must not serve the old entries")
    val fresh = (0L until 40L).filterNot(entryIds).head
    KnnGraph.appendEntryRows(spark, vec,
      vecs.filter($"vec_id" === fresh).select(lit(99).as("slot"), $"vec_id".as("node"), $"v"))
    assert(probe() == 3)
    assert(entryIds.contains(fresh), "an appended entry must be served")
    val victim = entryIds.min
    KnnGraph.eraseStored(spark, g, Seq(victim), Some(vec))
    assert(probe() == 4)
    assert(!entryIds.contains(victim), "an erased entry must never be served")
    // the loud errors keep their messages
    val bare = s"$root/bare"
    KnnGraph.writeStore((0L until 3L).map(i => (i, i + 1)).toDF("src", "nbr"), bare, 1)
    val missing = intercept[IllegalArgumentException](KnnGraph.hashEntries(spark, bare))
    assert(missing.getMessage.contains("has no _graft_entries sidecar — rerun writeHashEntries"))
    KnnGraph.eraseStored(spark, g, entryIds.toSeq, Some(vec))
    val drained = intercept[IllegalArgumentException](KnnGraph.hashEntries(spark, vec))
    assert(drained.getMessage.contains("_graft_entries is empty — rerun writeHashEntries"))
  }

  test("a directory-shaped table re-stamps after an in-place rewrite, an append and an erase") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stamped-table")
    val table = dir.resolve("t.parquet")
    def parts(d: Path) = Files.list(d).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1).write.parquet(table.toString)
    val probe = loadsAt(table.toString)
    assert(probe() == 1 && probe() == 1, "an unchanged table must hit")
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("id", "name"))
    // rewrite the ONE part file in place with a new schema and put the
    // directory's mtime back: only the file's own stamp moves
    val dirMtime = Files.getLastModifiedTime(table)
    val other = dir.resolve("other")
    Seq((1L, 2.5, true)).toDF("id", "score", "flag").coalesce(1).write.parquet(other.toString)
    val (part, src) = (parts(table).head, parts(other).head)
    def crc(p: Path) = p.resolveSibling(s".${p.getFileName}.crc")
    Files.write(part, Files.readAllBytes(src))
    Files.write(crc(part), Files.readAllBytes(crc(src)))
    Files.setLastModifiedTime(table, dirMtime)
    assert(probe() == 2)
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("id", "score", "flag"),
      "an in-place rewrite under an unchanged directory must not serve the old schema")
    // append a second part file, then erase it
    val added = table.resolve("part-99999-appended.parquet")
    Files.copy(src, added)
    assert(probe() == 3)
    assert(Tables.load(spark, dir.toString, "t").count() == 2)
    Files.delete(added)
    Files.setLastModifiedTime(table, dirMtime)
    assert(probe() == 4)
    assert(Tables.load(spark, dir.toString, "t").count() == 1)
  }
}
