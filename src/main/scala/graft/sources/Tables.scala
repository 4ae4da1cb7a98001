package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the star-schema + document/embedding corpus (TESTDATA.md).
  *
  * One parquet file per table. All reads go through here so that scan-level
  * concerns (schema pinning, future bucketing/partitioning of the 100 TB
  * layout) live in one place. Parquet scans get predicate pushdown + column
  * pruning from Catalyst for free — query code just selects/filters.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fixture-table schemas, [[graft.util.Stamped]]: an unpinned
    * `spark.read.parquet` re-infers the schema from a footer on EVERY
    * load (~13 such jobs in one sq22b pass, r18 event logs); a stamp hit
    * pins the read instead. The pinned schema IS the file's own, so
    * column pruning, predicate pushdown, and the events-table type
    * dispatch behave identically. */
  private val tableSchemas = new graft.util.Stamped[StructType]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = tableSchemas(spark, path)(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** events.parquet's `ts` physical encoding has changed across fixture
    * generations — TIMESTAMP(NANOS) (reads as epoch-nanos long under the
    * legacy conf, since Spark's reader rejects NANOS outright), then
    * TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ). Dispatch on the SCANNED
    * logical type rather than hard-coding one generation, and normalize
    * every encoding to TimestampType micros — with the session pinned to
    * UTC (Sessions) the wall-clock values are identical across paths, so
    * downstream queries and the DuckDB oracle see one stable type.
    *
    * graft.Sessions sets `nanosAsLong` at session construction; a
    * set/restore scoped to this method would NOT work because the parquet
    * reader consults the conf again at physical planning, i.e. after this
    * method returns. For sessions built outside graft.Sessions we set it
    * here once if absent — a documented session-wide requirement of the
    * events table, not a silent per-read side effect. The conf is inert
    * for non-NANOS fixtures. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true")) spark.conf.set(key, "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      // epoch-nanos long: `div` (integral) — a double division of
      // epoch-nanos (~1.7e18) loses the low bits (2^53 mantissa) and
      // lands a microsecond off
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // NTZ micros: reinterpret as instant; UTC session tz makes this a
      // pure type tag change, no value shift
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported fixture type $other (expected nanos-as-long, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register every table as a temp view — the SQL catalog surface.
    * Routes through the per-table loaders so schema quirks (events' nanos
    * timestamps) are handled regardless of which query runs first.
    * Memoized per (session, dir): registration costs one parquet-footer
    * read per table, which is catalog START-UP cost, not per-query cost;
    * a session conf key records the registered dir so repeat callers
    * (aq04, q29, ad-hoc spark.sql users) don't re-pay it. The fixture
    * dirs are immutable, so re-registration is only needed when the dir
    * actually changes. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val key = "graft.catalog.registeredDir"
    if (spark.conf.getOption(key).contains(dir)) return
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      assertSchema(n, df)
      df.createOrReplaceTempView(n)
    }
    spark.conf.set(key, dir)
  }

  import org.apache.spark.sql.types._
  private val ts: Set[DataType]  = Set(TimestampType, TimestampNTZType)
  private def one(t: DataType): Set[DataType] = Set(t)
  private val vec: Set[DataType] = Set(ArrayType(FloatType, containsNull = true),
                                       ArrayType(FloatType, containsNull = false))

  /** Expected POST-LOAD column types per table, tolerant of physical
    * encodings (timestamps may scan as TZ or NTZ; the events loader has
    * already normalized `ts` to TimestampType by the time this runs).
    * The fixture has been regenerated under the repo once already — this
    * turns the next silent encoding change into ONE named diff at catalog
    * registration instead of dozens of downstream analysis errors. */
  val expectedSchemas: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region"     -> Seq("r_regionkey" -> one(IntegerType), "r_name" -> one(StringType)),
    "nation"     -> Seq("n_nationkey" -> one(IntegerType), "n_name" -> one(StringType),
                        "n_regionkey" -> one(IntegerType)),
    "customer"   -> Seq("c_custkey" -> one(LongType), "c_name" -> one(StringType),
                        "c_nationkey" -> one(IntegerType), "c_acctbal" -> one(DoubleType),
                        "c_mktsegment" -> one(StringType)),
    "supplier"   -> Seq("s_suppkey" -> one(LongType), "s_name" -> one(StringType),
                        "s_nationkey" -> one(IntegerType), "s_acctbal" -> one(DoubleType)),
    "part"       -> Seq("p_partkey" -> one(LongType), "p_name" -> one(StringType),
                        "p_brand" -> one(StringType), "p_type" -> one(StringType),
                        "p_size" -> one(IntegerType), "p_retailprice" -> one(DoubleType)),
    "orders"     -> Seq("o_orderkey" -> one(LongType), "o_custkey" -> one(LongType),
                        "o_orderstatus" -> one(StringType), "o_totalprice" -> one(DoubleType),
                        "o_orderdate" -> ts, "o_orderpriority" -> one(StringType)),
    "lineitem"   -> Seq("l_orderkey" -> one(LongType), "l_partkey" -> one(LongType),
                        "l_suppkey" -> one(LongType), "l_linenumber" -> one(IntegerType),
                        "l_quantity" -> one(DoubleType), "l_extendedprice" -> one(DoubleType),
                        "l_discount" -> one(DoubleType), "l_tax" -> one(DoubleType),
                        "l_returnflag" -> one(StringType), "l_linestatus" -> one(StringType),
                        "l_shipdate" -> ts),
    "events"     -> Seq("event_id" -> one(LongType), "ts" -> one(TimestampType),
                        "user_id" -> one(LongType), "event_type" -> one(StringType),
                        "value" -> one(DoubleType), "props" -> one(StringType)),
    "documents"  -> Seq("doc_id" -> one(LongType), "text" -> one(StringType),
                        "lang" -> one(StringType), "source" -> one(StringType),
                        "n_chars" -> one(LongType)),
    "embeddings" -> Seq("vec_id" -> one(LongType), "embedding" -> vec,
                        "label" -> one(IntegerType)))

  /** Fail fast with every drifted column named, not just the first. */
  def assertSchema(name: String, df: DataFrame): Unit =
    expectedSchemas.get(name).foreach { cols =>
      val actual = df.schema.map(f => f.name -> f.dataType).toMap
      val diffs = cols.flatMap { case (c, ok) =>
        actual.get(c) match {
          case None                       => Some(s"$name.$c: MISSING (expected ${ok.map(_.simpleString).mkString("|")})")
          case Some(t) if !ok.contains(t) => Some(s"$name.$c: got ${t.simpleString}, expected ${ok.map(_.simpleString).mkString("|")}")
          case _                          => None
        }
      }
      require(diffs.isEmpty, s"fixture schema drift:\n  ${diffs.mkString("\n  ")}")
    }

  /** Fan a narrow scan out to all cores before CPU-heavy per-row work.
    *
    * The test fixtures are single-row-group parquet files, so Spark plans
    * ONE scan task regardless of maxPartitionBytes — and a regex-cascade
    * ETL or shingling pass then runs on one core. One cheap round-robin
    * shuffle of the narrow input (MBs) buys full-cluster parallelism for
    * the expensive projection. On a real 100 TB layout scans are already
    * split; this guards the small-file / few-row-group edge, which exists
    * at every scale (the "last small dimension file" problem). */
  def fanOut(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)
}
