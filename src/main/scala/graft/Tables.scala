package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (see TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor dir (a
  * Spark-written `name.parquet/` directory reads the same way); on a
  * real cluster these would be partitioned/bucketed Delta tables, but
  * the read path is identical, and all downstream operators are written
  * against the DataFrame, not the layout.
  *
  * Schema once: a plain `spark.read.parquet(path)` runs Spark's parquet
  * schema inference as a job of its own on every call, so a query
  * builder paid one job per table read, for a file it read one query
  * earlier. [[load]] instead reads with an explicit schema taken from a
  * small memo, whose miss runs that same inference once: the schema is
  * the inferred one by construction, and a warm read launches no job.
  * The memo key is everything the inferred schema depends on — every
  * leaf file under the path (its path, length and modification time;
  * a rewritten file or a new part file changes it) and the session's
  * SQL conf (`spark.sql.legacy.parquet.nanosAsLong`, which [[events]]
  * sets, and `spark.sql.parquet.binaryAsString` change the inferred
  * types) — so a stale schema is never served. */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** What the inferred schema of one table path is a function of. */
  private final case class SchemaKey(
      leaves: Seq[(String, Long, Long)], conf: Map[String, String])

  /** Entries the memo keeps (least recently used out): ten tables at a
    * few scale factors and session confs. */
  private val MemoEntries = 64

  private val memo = new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[SchemaKey, StructType]): Boolean = size > MemoEntries
  }

  /** The schema `spark.read.parquet(path)` would infer now. A miss
    * infers outside the lock, so concurrent readers of other tables
    * never wait on it; two racing misses of one key both infer the same
    * schema. A missing path lists no leaves and fails in the inference,
    * with Spark's own error. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val key = SchemaKey(leaves(spark, path), spark.conf.getAll)
    memo.synchronized(Option(memo.get(key))).getOrElse {
      val inferred = spark.read.parquet(path).schema
      memo.synchronized(memo.put(key, inferred))
      inferred
    }
  }

  /** Every leaf file under `path` (the path itself for a single-file
    * table). Plain status calls: a located listing would also fetch
    * block locations, which costs more than the read it keys. */
  private def leaves(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk) else Seq(st)
    val found = try walk(fs.getFileStatus(p)) catch { case _: FileNotFoundException => Nil }
    found.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
  }

  /** The events table's `ts` column has shipped in two physical forms:
    * originally a NANOSECOND parquet timestamp (which Spark rejects by
    * default — TimestampType is micros — so we read it via the
    * nanos-as-long escape hatch and divide), and, since the testdata
    * regeneration, a plain micros timestamp (surfaced as TIMESTAMP_NTZ by
    * parquet NTZ inference). Either way we expose `ts` as epoch
    * MICROseconds (long): DuckDB reads both forms as a micros timestamp,
    * so the micro-epoch long is the representation both engines agree on
    * bit-for-bit (oracle SQL uses `epoch_us(ts)`). `ts_ts` is the same
    * instant as a proper TimestampType column for event-time/streaming
    * use; the session timezone is pinned to UTC, so the NTZ cast is an
    * identity on the underlying micros. */
  private def eventsWithTs(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the NTZ branch's ts = epoch-micros contract depends on a UTC
    // session timezone (unix_micros interprets NTZ in session tz); pin
    // it HERE, not just in the mains/build flags, so the function is
    // self-contained and both layouts stay timezone-independent for
    // any consumer session (round-9 advice)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // legacy layout: int64 nanoseconds
        raw
          .withColumn("ts", expr("ts div 1000"))
          .withColumn("ts_ts", timestamp_micros(col("ts")))
      case _ => // current layout: timestamp[us] (NTZ or UTC-adjusted)
        raw
          .withColumn("ts_ts", col("ts").cast(TimestampType))
          .withColumn("ts", unix_micros(col("ts_ts")))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame     = eventsWithTs(spark, dir)
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
