package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.{KnnGraph, VectorOps}
import graft.sources.Tables
import graft.streaming.StreamingGraphIngest
import Json._

/** The benchmark's JVM side: sets a workload up, runs it in a closed loop
  * with one client for a fixed time, checks the answers, and writes one
  * JSON record of every attempted step, check, span and Spark counter.
  * `perfbench/run.py` builds and starts it and turns the record into
  * metrics.
  *
  * Arguments (all required): `--workload analytics|ann-serve|index-maintain
  * --seed N --seconds S --trace 0|1 --data DIR --work DIR --out FILE
  * --cpus N`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local("perfbench", a("cpus").toInt)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val bench = new Bench(spark, a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), a("work"), a("out"))
    val fatal = try { bench.run(); None }
      catch { case NonFatal(e) => Some(Bench.message(e)) }
    Files.write(Paths.get(a("out")),
      bench.json(sessionS, a("cpus").toInt, fatal).getBytes(UTF_8))
    spark.stop()
    if (fatal.nonEmpty) sys.exit(2)
  }
}

object Bench {
  /** The registered analytics rows: job-market regex ETL and aggregation
    * (salary and experience parsing, top cities, skills explode, surrogate
    * keys, cluster stats) and frozen-model inference for the dashboard
    * (random forest, TF-IDF). Eight of the thirteen jq01-jq08 and
    * mq13-mq17 rows: a run pays one cold pass to warm up and check, and
    * all thirteen do not fit the benchmark's time budget. */
  val AnalyticsQueries: Seq[String] =
    Seq("jq01", "jq02", "jq03", "jq05", "jq07", "jq08", "mq13", "mq16")
  val K = 8
  val BuildRounds = 1
  val BeamRounds = 4
  val QueriesPerRequest = 16
  val BatchSize = 8
  val SetupReps = 3
  /** Ids minted by the benchmark start here, far above the corpus's
    * dense 0..n-1, so no query id or arrival collides with a corpus id. */
  val FreshIds = 1000000L

  def message(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  /** One canonical text field per value: doubles to 9 significant digits,
    * so that summation order in an aggregate cannot change a result's
    * hash, and nested values spelled out. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case s: String => s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case x => x.toString
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time the whole JVM has used: every Spark task thread, the
    * driver, the JIT and the collector. Time the machine gave to other
    * guests is not in it. */
  def processCpuNs: Long = os.getProcessCpuTime

  def cosine(x: Array[Double], y: Array[Double]): Double = {
    var dot, nx, ny = 0.0
    var i = 0
    while (i < x.length) { dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
    dot / math.sqrt(nx * ny)
  }
}

final class Bench(spark: SparkSession, workload: String, seed: Long, seconds: Double,
    traceMode: Boolean, dataDir: String, workDir: String, out: String) {
  import Bench._
  import spark.implicits._

  private val trace = new Trace(spark)
  private val tablesDir = s"$dataDir/sf0.01"
  private val vectorsDir = s"$dataDir/sf0.1"
  private val rng = new Random(seed)

  private val steps = ArrayBuffer.empty[String]
  private val errors = ArrayBuffer.empty[String]
  private val checks = ArrayBuffer.empty[String]
  private val setupS = ArrayBuffer.empty[Double]
  private val extra = ArrayBuffer.empty[(String, String)]
  private var attempted, failed = 0
  private var phase = "setup"
  private var rep, block = -1

  /** One attempted step, timed. A failure is counted and recorded with
    * its message, never swallowed; the caller decides whether the run can
    * go on without the step's result. */
  private def attempt[T](kind: String, name: String = "")(body: => T): Option[T] = {
    attempted += 1
    val span = trace.nextSpanId
    val traced = trace.tracing
    val start = trace.nowMs
    val cpu0 = processCpuNs
    val t0 = System.nanoTime()
    val r = try Right(trace.span(kind)(body)) catch { case NonFatal(e) => Left(e) }
    val durMs = (System.nanoTime() - t0) / 1e6
    val cpuMs = (processCpuNs - cpu0) / 1e6
    r.left.foreach { e =>
      failed += 1
      errors += obj("phase" -> str(phase), "step" -> str(s"$kind $name".trim),
        "message" -> str(message(e)))
    }
    steps += obj("phase" -> str(phase), "kind" -> str(kind), "name" -> str(name),
      "rep" -> num(rep), "block" -> num(block), "traced" -> bool(traced),
      "span" -> num(if (traced) span else -1), "start_ms" -> num(start),
      "dur_ms" -> num(durMs), "cpu_ms" -> num(cpuMs), "ok" -> bool(r.isRight))
    r.toOption
  }

  private def required[T](r: Option[T], what: String): T =
    r.getOrElse(throw new IllegalStateException(s"$what failed; see errors"))

  private def check(name: String, ok: Boolean, detail: String): Unit =
    checks += obj("name" -> str(name), "ok" -> bool(ok), "detail" -> str(detail))

  private def setupReps(body: Int => Unit): Unit = {
    for (r <- 0 until SetupReps) {
      rep = r
      val t0 = System.nanoTime()
      body(r)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    rep = -1
  }

  /** Registration is memoized per session under this conf key; dropping
    * it makes every set-up repetition register the tables again, as a
    * fresh deployment would. */
  private def register(): Unit = attempt("sources.registerAll") {
    spark.conf.unset("graft.catalog.registeredDir")
    Tables.registerAll(spark, tablesDir)
  }

  /** The timed region: blocks run back to back until `seconds` have
    * passed; a block started in time always completes. The traced run
    * traces blocks of the same composition in groups of four — untraced,
    * traced, traced, untraced — so that the JVM warming up over the run
    * favours neither side of the tracing overhead; it runs at least one
    * group. */
  private def timed(body: Int => Unit): Unit = {
    phase = "timed"
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || (traceMode && i < 4)) {
      block = i
      trace.block(traceMode && (i % 4 == 1 || i % 4 == 2))(body(i))
      i += 1
    }
    block = -1
  }

  def run(): Unit = workload match {
    case "analytics" => analytics()
    case "ann-serve" => annServe()
    case "index-maintain" => indexMaintain()
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  // ---------------------------------------------------------------- analytics

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def analytics(): Unit = {
    val queries = graft.SparkEntry.catalogs
      .filter(q => AnalyticsQueries.exists(p => q.name.startsWith(p + "_")))
    require(queries.map(_.name.take(4)).sorted == AnalyticsQueries.sorted,
      s"expected one registered row per ${AnalyticsQueries.mkString(",")}, found " +
        queries.map(_.name).mkString(","))
    setupReps(_ => register())
    // every query's answer, once per run, outside the timed region; this
    // pass is also the warm-up: each query's first run compiles its code
    phase = "check"
    val rowsDir = Paths.get(out + ".rows")
    Files.createDirectories(rowsDir)
    rng.shuffle(queries).foreach { q =>
      attempt("check", q.name) {
        val df = q.fn(spark, tablesDir)
        val lines = df.columns.mkString("\t") +: df.collect().toSeq
          .map(_.toSeq.map(canon).mkString("\t"))
        Files.write(rowsDir.resolve(q.name + ".txt"), lines.asJava, UTF_8)
      }
      spark.catalog.clearCache()
    }
    timed { _ =>
      rng.shuffle(queries).foreach { q =>
        attempt("query", q.name) {
          val df = trace.span("queries.build")(q.fn(spark, tablesDir))
          trace.span("exec.write")(noop(df))
        }
        // as graft.Bench: no query's cache subsidizes the next
        spark.catalog.clearCache()
      }
    }
  }

  // ------------------------------------------------------------ vector stores

  private var corpus: Array[(Long, Array[Double])] = Array.empty

  private def perturbed(base: Array[Double]): Array[Double] = {
    val s = 0.1 * math.sqrt(base.map(x => x * x).sum / base.length)
    base.map(x => x + s * rng.nextGaussian())
  }

  /** One set-up of the vector workloads: registration, the corpus, the
    * NN-Descent graph and both stores, written to a fresh directory per
    * repetition. The graph build is durable and shared by the
    * repetitions: the first builds it, the later ones take the engine's
    * restart path and resume it. Returns the corpus frame and the two
    * store paths. */
  private def buildStores(r: Int): (DataFrame, String, String) = {
    register()
    val root = s"$workDir/rep$r"
    val vecs = required(attempt("sources.load") {
      val v = Tables.embeddings(spark, vectorsDir)
        .select($"vec_id", VectorOps.toDouble($"embedding").as("v")).cache()
      v.count()
      v
    }, "loading the corpus")
    val graph = required(attempt("similarity.buildDurable") {
      KnnGraph.buildDurable(vecs, K, BuildRounds, s"$workDir/build").last
    }, "the graph build")
    required(attempt("similarity.writeStore")(KnnGraph.writeStore(graph, s"$root/g")),
      "the adjacency store write")
    required(attempt("similarity.writeVectors")(KnnGraph.writeVectors(vecs, s"$root/vec")),
      "the vector store write")
    (vecs, s"$root/g", s"$root/vec")
  }

  /** The corpus on the driver, for the exact top-k the answers are
    * checked against; collected after the timed set-ups. */
  private def collectCorpus(vecs: DataFrame): Unit =
    corpus = vecs.as[(Long, Seq[Double])].collect().map { case (i, v) => i -> v.toArray }

  private def storeStats(paths: Seq[String], live: Long): Unit = {
    val files = paths.flatMap { p =>
      Files.walk(Paths.get(p)).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .toSeq
    }
    val bytes = files.map(Files.size(_)).sum
    extra += "store_files" -> num(files.size)
    extra += "store_bytes" -> num(bytes)
    extra += "live_vectors" -> num(live)
  }

  private def exactTop(q: Array[Double], live: Iterable[(Long, Array[Double])]): Seq[Long] =
    live.toSeq.map { case (id, v) => (id, cosine(q, v)) }
      .sortWith { case ((ia, ca), (ib, cb)) => ca > cb || (ca == cb && ia < ib) }
      .take(K).map(_._1)

  private def annServe(): Unit = {
    var stores: (DataFrame, String, String) = null
    var nextQid = FreshIds
    def request(): Seq[(Long, Array[Double])] =
      Seq.fill(QueriesPerRequest) {
        nextQid += 1
        nextQid -> perturbed(corpus(rng.nextInt(corpus.length))._2)
      }
    def serve(qs: Seq[(Long, Array[Double])]): Option[Array[(Long, Long)]] = {
      val (_, g, vec) = stores
      attempt("serve") {
        val qdf = qs.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "v")
        trace.span("similarity.serveFromStores") {
          KnnGraph.serveFromStores(spark, g, vec, qdf, K, BeamRounds)
            .as[(Long, Long)].collect()
        }
      }
    }
    setupReps { r =>
      if (stores != null) stores._1.unpersist()
      stores = buildStores(r)
    }
    collectCorpus(stores._1)
    phase = "warmup"
    serve(request())
    var served, wrongCount, hits = 0L
    timed { _ =>
      val qs = request()
      serve(qs).foreach { ans =>
        val byQ = ans.groupBy(_._1)
        qs.foreach { case (q, v) =>
          val got = byQ.getOrElse(q, Array.empty).map(_._2)
          if (got.length != K || got.distinct.length != K) wrongCount += 1
          hits += exactTop(v, corpus).count(got.contains)
          served += 1
        }
      }
    }
    check("ann-serve.answers_per_query", served > 0 && wrongCount == 0,
      s"$wrongCount of $served queries did not get exactly $K distinct answers")
    extra += "recall_at_8" -> num(if (served == 0) 0.0 else hits.toDouble / (served * K))
    extra += "queries_per_op" -> num(QueriesPerRequest)
    extra += "answers_per_op" -> num(QueriesPerRequest * K)
    storeStats(Seq(stores._2, stores._3), corpus.length)
  }

  private def indexMaintain(): Unit = {
    var stores: (DataFrame, String, String) = null
    val live = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Double]]
    val erased = scala.collection.mutable.Set.empty[Long]
    var originals = ArrayBuffer.empty[Long]
    var nextId = FreshIds
    var nextQid = 2 * FreshIds
    var notFound, expected, erasedReturned, served, hits = 0L
    def read(vs: Seq[(Long, Array[Double])]): Option[Map[Long, Seq[Long]]] = {
      val (_, g, vec) = stores
      val qs = vs.map { case (id, v) => nextQid += 1; (nextQid, id, v) }
      attempt("read") {
        trace.span("similarity.serveCoordinated") {
          KnnGraph.serveCoordinated(spark, g, vec, qs.map(q => q._1 -> q._3), K, BeamRounds)
        }
      }.map { ans =>
        val byQ = ans.groupBy(_._1).map { case (q, a) => q -> a.map(_._2) }
        qs.map { case (q, id, v) =>
          val got = byQ.getOrElse(q, Seq.empty)
          served += 1
          hits += exactTop(v, live).count(got.contains)
          id -> got
        }.toMap
      }
    }
    def cycle(): Unit = {
      val (vecs, g, vec) = stores
      // 1. insert a batch of perturbed copies of live corpus vectors
      val batch = Seq.fill(BatchSize) {
        nextId += 1
        nextId -> perturbed(live(originals(rng.nextInt(originals.length))))
      }
      val inserted = attempt("insert") {
        val bdf = batch.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v")
        trace.span("streaming.insertBatch") {
          StreamingGraphIngest.insertBatch(bdf, g, vecs, K, BeamRounds, Some(vec))
        }
      }.nonEmpty
      if (inserted) batch.foreach { case (id, v) => live(id) = v }
      // 2. read them back: each, under a fresh query id, must find itself
      def verify(answers: Option[Map[Long, Seq[Long]]], mustFind: Seq[Long]): Unit =
        answers.foreach { byId =>
          erasedReturned += byId.values.flatten.count(erased)
          mustFind.foreach { id =>
            expected += 1
            if (!byId.getOrElse(id, Seq.empty).contains(id)) notFound += 1
          }
        }
      verify(read(batch), if (inserted) batch.map(_._1) else Nil)
      // 3. erase half the batch and as many original corpus vectors
      val fresh = rng.shuffle(batch.map(_._1)).take(BatchSize / 2)
      val old = Seq.fill(BatchSize / 2)(originals.remove(rng.nextInt(originals.length)))
      val victims = fresh ++ old
      if (attempt("erase") {
        trace.span("similarity.eraseStored")(KnnGraph.eraseStored(spark, g, victims, Some(vec)))
      }.nonEmpty) {
        victims.foreach { v => live.remove(v); erased += v }
      }
      // 4. read the batch again: survivors still found, victims never returned
      verify(read(batch), batch.map(_._1).filterNot(erased).filter(live.contains))
    }
    setupReps { r =>
      if (stores != null) stores._1.unpersist()
      stores = buildStores(r)
    }
    collectCorpus(stores._1)
    corpus.foreach { case (id, v) => live(id) = v }
    originals = ArrayBuffer.from(corpus.map(_._1))
    // the first cycle on fresh stores runs about twice as slow
    phase = "warmup"
    cycle()
    notFound = 0; expected = 0; erasedReturned = 0; served = 0; hits = 0
    timed(_ => cycle())
    check("index-maintain.inserted_found", expected > 0 && notFound == 0,
      s"$notFound of $expected reads of an inserted vector did not return its id")
    check("index-maintain.erased_never_returned", erasedReturned == 0,
      s"$erasedReturned answers named an erased id")
    extra += "recall_at_8" -> num(if (served == 0) 0.0 else hits.toDouble / (served * K))
    extra += "answers_per_op" -> num(BatchSize * K)
    storeStats(Seq(stores._2, stores._3), live.size)
  }

  // ------------------------------------------------------------------ record

  def json(sessionS: Double, cpus: Int, fatal: Option[String]): String = {
    import java.lang.management.{ManagementFactory, MemoryType}
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
    obj(Seq(
      "workload" -> str(workload), "seed" -> num(seed), "seconds" -> num(seconds),
      "trace" -> bool(traceMode), "cpus" -> num(cpus), "session_start_s" -> num(sessionS),
      "setup_s" -> arr(setupS.map(num(_))), "attempted" -> num(attempted),
      "failed" -> num(failed), "fatal" -> fatal.fold("null")(str),
      "errors" -> arr(errors), "checks" -> arr(checks), "steps" -> arr(steps),
      "heap_peak_mb" -> num(heapPeak)) ++ extra ++ trace.json: _*)
  }
}
