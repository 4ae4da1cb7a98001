package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q01,jq04 limits the run (dev iteration knob)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      } finally spark.catalog.clearCache() // per-query isolation (see Bench)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failures must be first-class in the artifact: a query that ERRORs
    // leaves no parquet dir, and a checker reading only the dump would
    // see 100% of what remains passing (the round-7 lesson — 22 errors
    // were invisible in the correctness artifact). Always write the
    // file, empty map included, so "no errors" is a recorded fact.
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // orderly shutdown on BOTH paths before any exit (r8 ADVICE: the
    // error path used to lean on the SparkContext shutdown hook)
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
