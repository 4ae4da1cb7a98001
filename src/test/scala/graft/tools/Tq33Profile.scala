package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Throwaway stage profiler for tq33 — times each phase in isolation. */
object Tq33Profile {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val spark = graft.Sessions.local("tq33-profile",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[tq33prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    // warm-up
    spark.range(1000000).agg(sum(col("id"))).write.mode("overwrite").format("noop").save()
    graft.sources.Tables.documents(spark, dir).limit(100).write.mode("overwrite").format("noop").save()

    def toks = graft.sources.Tables.fanOut(spark, graft.sources.Tables.documents(spark, dir))
      .select($"doc_id", $"lang",
        explode(filter(split(lower($"text"), "\\s+"), t => t =!= "")).as("tok"))

    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("c")).cache()
    timed("vocab build")(vocab.count())
    val tot = vocab.agg(sum($"c").cast("double").as("n"))
    val wt = vocab.crossJoin(broadcast(tot))
      .select($"tok", round(log($"c" / $"n"), 9).as("w"))
    val doc = toks.join(broadcast(wt), Seq("tok"))
      .groupBy($"doc_id", $"lang")
      .agg((sum($"w".cast(DecimalType(25, 9))).cast("double") /
        count(lit(1))).as("lp"))
      .cache()
    timed("doc build (score scan)")(doc.count())
    val th = timed("ExactPercentile") {
      val t = graft.operators.ExactPercentile
        .quantiles(doc.select($"lang", $"lp"), "lang", "lp",
          Seq(1.0 / 3, 2.0 / 3), Seq("t1", "t2"))
        .select($"lang", round($"t1", 6).as("t1"), round($"t2", 6).as("t2"))
      t.collect()
      t
    }
    timed("bucket + final agg") {
      doc.join(broadcast(th), Seq("lang"))
        .withColumn("bucket",
          when($"lp" >= $"t2", "head")
            .when($"lp" >= $"t1", "middle")
            .otherwise("tail"))
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(avg($"lp"), 6).as("avg_lp"),
          round(min($"lp"), 6).as("min_lp"),
          round(max($"lp"), 6).as("max_lp"))
        .orderBy($"lang", $"bucket")
        .write.mode("overwrite").format("noop").save()
    }
    spark.stop()
  }
}
