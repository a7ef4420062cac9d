package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Table readers over the engine's parquet storage (SURVEY §2.1 S3/S5/S7),
  * and the one way the engine reads a parquet table or store.
  *
  * The reference streams JSON search results and lands them in ClickHouse
  * (reference: etl.py:57-65, clickhouse/clickhouse.py:60-67); the engine's
  * native storage is partitioned parquet, read through Spark's vectorized
  * reader (columnar, predicate/column pushdown for free).
  *
  * Session schema catalog. A plain `spark.read.parquet(p)` infers the
  * schema on every call: one Spark job that reads a footer, 80-120 ms
  * before any query runs. [[parquet]] resolves each table's data schema
  * once per `SparkSession` and later reads with `.schema(s)`, which runs
  * no job. Only a `StructType` is cached, never data, DataFrames or plans,
  * and only the data columns: Spark still infers the partition columns
  * from each read's own listing. Entries are keyed on
  *  - the paths and the read options (`basePath`, `mergeSchema`, ...);
  *  - every `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` conf set
  *    on the session, a superset of the ones that change inference
  *    (`legacy.parquet.nanosAsLong`, `binaryAsString`, `int96AsTimestamp`,
  *    `inferTimestampNTZ.enabled`, `mergeSchema`);
  * and carry a freshness token: (path, length, mtime) of the files
  * Spark's inference would read. Without schema merging that is the first
  * data file by path, the file whose footer inference reads; with merging,
  * or when summary files exist, it is every listed file. The token is
  * taken from the file index the pinned read builds anyway, so a hit lists
  * nothing extra. A token mismatch (a rewritten file, a new first file, an
  * emptied table) falls back to plain inference and re-caches. The
  * invariant: a read's schema equals what `spark.read.parquet(p).schema`
  * would return at that moment. Tables whose files carry a partition
  * column are never cached (Spark orders such a column differently when
  * the schema is given). Two sessions never share entries.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, dir: String, table: String): DataFrame =
    parquet(spark, s"$dir/$table.parquet")

  def parquet(spark: SparkSession, path: String): DataFrame = parquet(spark, Seq(path))

  /** `spark.read.options(options).parquet(paths: _*)` through the session
    * schema catalog (see the object doc). */
  def parquet(spark: SparkSession, paths: Seq[String],
              options: Map[String, String] = Map.empty): DataFrame = {
    val key = (paths, options, spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    })
    val hit = SchemaCatalog.get(spark, key).flatMap { case (schema, token) =>
      val pinned = spark.read.options(options).schema(schema).parquet(paths: _*)
      val fresh = fileRelation(pinned).flatMap(inferenceFiles(spark, _, options)).contains(token)
      if (fresh) Some(pinned) else None
    }
    hit.getOrElse {
      val df = spark.read.options(options).parquet(paths: _*)
      for {
        rel <- fileRelation(df) if rel.overlappedPartCols.isEmpty
        token <- inferenceFiles(spark, rel, options)
      } SchemaCatalog.put(spark, key, (rel.dataSchema, token))
      df
    }
  }

  private type Token = Seq[(String, Long, Long)]

  /** Per-session LRU maps of (paths, options, confs) to (data schema,
    * token); weak in the session, bounded in entries. */
  private object SchemaCatalog {
    private val MaxEntries = 512
    private val sessions = new java.util.WeakHashMap[SparkSession,
      java.util.LinkedHashMap[Any, (StructType, Token)]]()

    private def of(spark: SparkSession) = sessions.computeIfAbsent(spark, _ =>
      new java.util.LinkedHashMap[Any, (StructType, Token)](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Any, (StructType, Token)]): Boolean = size() > MaxEntries
      })

    def get(spark: SparkSession, key: Any): Option[(StructType, Token)] =
      sessions.synchronized(Option(of(spark).get(key)))

    def put(spark: SparkSession, key: Any, entry: (StructType, Token)): Unit =
      sessions.synchronized(of(spark).put(key, entry))
  }

  private def fileRelation(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => Some(r)
        case _ => None
      }
      case _ => None
    }

  /** The files Spark's parquet schema inference reads from this relation's
    * listing (ParquetUtils.inferSchema): the first data file by path, or
    * every listed file when schemas merge or summary files exist. */
  private def inferenceFiles(spark: SparkSession, rel: HadoopFsRelation,
                             options: Map[String, String]): Option[Token] =
    rel.location match {
      case index: PartitioningAwareFileIndex =>
        val leaves = index.allFiles().sortBy(_.getPath.toString)
        val summary = (n: String) => n == "_metadata" || n == "_common_metadata"
        val merge = options.collectFirst {
          case (k, v) if k.equalsIgnoreCase("mergeSchema") => v.toBoolean
        }.getOrElse(spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean)
        val read =
          if (merge || leaves.exists(f => summary(f.getPath.getName))) leaves
          else leaves.take(1)
        Some(read.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))
      case _ => None
    }

  /** GraftSession.builder sets the nanos conf at session build; this
    * guard is the fallback for externally-built sessions, and never
    * mutates a session that is already configured (no global side effect
    * on the hot read path). It only affects parquet TIMESTAMP(NANOS)
    * fixtures (read as raw Long); TIMESTAMP(MICROS/MILLIS) fixtures are
    * untouched by it. Every reader that touches events.parquet —
    * including streaming-source schema probes — must go through it so the
    * LongType branch of [[normalizeTs]] stays reachable on nanos data.
    */
  def ensureNanosConf(spark: SparkSession): Unit =
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalize the fixture `ts` column to a UTC-instant TimestampType,
    * dispatching on the SCANNED dtype — the fixture's physical encoding has
    * changed across rounds (TIMESTAMP(NANOS) read as raw Long via
    * `nanosAsLong` through round 5; TIMESTAMP(MICROS) read as
    * timestamp_ntz from round 6) and the engine must absorb either without
    * edits. One loud error for anything else beats 61 scattered
    * DATATYPE_MISMATCH failures (the fixture-schema tripwire; cf. the
    * reference's own first-row-schema bug, SURVEY §1.2).
    *
    *  - raw-nanos Long: integer `div 1000` to µs — a double-precision
    *    division would corrupt ~1.7e18 ns values (2^53 < 1.7e18); DuckDB
    *    truncates ns→µs the same way, so oracles agree.
    *  - timestamp_ntz: the wall-clock IS UTC by fixture contract, so the
    *    NTZ→instant cast is value-preserving only under a UTC session TZ
    *    (enforced here; GraftSession pins it). Anything else would shift
    *    every value against the DuckDB oracle's native `epoch_us(ts)`.
    */
  def normalizeTs(df: DataFrame, name: String = "ts"): DataFrame =
    df.schema(name).dataType match {
      case TimestampType => df
      case TimestampNTZType =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.$name is TIMESTAMP_NTZ; converting it to an instant requires " +
            s"spark.sql.session.timeZone=UTC (got '$tz') to preserve the UTC oracle contract")
        df.withColumn(name, col(name).cast(TimestampType))
      case LongType =>
        df.withColumn(name, timestamp_micros(expr(s"$name div 1000")))
      case other => throw new IllegalStateException(
        s"events.$name is ${other.simpleString}; the engine expects timestamp, " +
          "timestamp_ntz, or raw-nanos bigint. The fixture schema has drifted — " +
          "extend graft.sources.Tables.normalizeTs for the new encoding.")
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    ensureNanosConf(spark)
    normalizeTs(read(spark, dir, "events"))
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** S4/S5 analog with the first-row-schema bug fixed: the reference infers
    * each batch's schema from its FIRST event only, silently dropping keys
    * that appear later (reference: clickhouse/helpers.py:166-169). Spark's
    * JSON reader already schema-unions across ALL rows and partitions;
    * this wrapper additionally lets callers pin a schema for streaming use.
    */
  def readJsonUnioned(spark: SparkSession, path: String,
                      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }
}
