package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** JVM-wide metadata cache keyed BY PATH, each entry stamped with the
  * path's sorted `name:length:mtime` listing (a plain file lists as
  * itself). Every store write, sidecar swap, append or erase mints,
  * rewrites or removes a file, so any content change re-stamps and the
  * next lookup reloads; an in-place rewrite under a directory shows in
  * its file's length and mtime even when the directory's own status is
  * unchanged.
  *
  * Why cache at all: an unpinned `spark.read.parquet` runs a
  * footer-inference JOB per read, and a sidecar collect is a full
  * plan+job round-trip for a few KB — a serving process holds its index
  * metadata in memory instead (the r17/r18 event logs counted ~80
  * inference jobs in one sq28 pass and ~10 centroid collects against
  * one store). A lookup costs ONE listing call; a hit costs no job.
  *
  * Keying by path alone means a rewrite REPLACES the entry rather than
  * stranding its predecessor: one live entry per path, so a long-lived
  * JVM holds at most one value per store, table or sidecar. A missing
  * path fails the lookup loudly — with `missing` as the message when
  * given, else with the filesystem's own not-found error. */
final class Stamped[V] {
  private val entries = new java.util.concurrent.ConcurrentHashMap[String, (String, V)]()

  def apply(spark: SparkSession, path: String,
      missing: Option[String] = None)(load: => V): V = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing =
      try fs.listStatus(p)
      catch {
        case _: java.io.FileNotFoundException if missing.nonEmpty =>
          throw new IllegalArgumentException(s"requirement failed: ${missing.get}")
      }
    val stamp = listing
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",")
    entries.compute(p.toString, (_, prev) =>
      if (prev != null && prev._1 == stamp) prev else (stamp, load))._2
  }
}
