package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the two contracts of [[Tables]].
  *
  * The events dual layout: events.parquet has shipped with `ts` as
  * int64 NANOseconds (legacy, read via the nanos-as-long escape
  * hatch) and as a plain micros timestamp (surfaced as TIMESTAMP_NTZ by
  * parquet inference). Both must load to the SAME logical frame: `ts` =
  * epoch micros (long, the bit-exact cross-engine representation the
  * oracle's `epoch_us(ts)` agrees on) and `ts_ts` = the same instant as
  * a proper TimestampType column. A testdata regeneration that flips the
  * physical layout must never change query results.
  *
  * Schema once: a warm read launches no Spark job, and the schema it
  * reads with is always the one `spark.read.parquet` would infer now —
  * after the table is rewritten at the same path, after a conf that
  * changes inference is toggled, for Spark-written directory tables,
  * and under concurrent readers. */
class TablesSpec extends SparkSpec {

  private val instantsMicros = Seq(
    1700000000000000L, // 2023-11-14T22:13:20Z
    1705276800123456L, // micros precision survives
    0L)                // epoch

  private def loadAs(layout: String): org.apache.spark.sql.DataFrame = {
    val dir = Files.createTempDirectory(s"graft_tables_$layout").toFile
    dir.deleteOnExit()
    val rows = instantsMicros.zipWithIndex.map { case (us, i) =>
      Row(i.toLong, us, i.toLong, "click", 1.0, "{}")
    }
    val base = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), base)
    val physical = layout match {
      case "nanos_long" => df.withColumn("ts", col("ts") * 1000L)
      case "ntz_micros" =>
        df.withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))
    }
    physical.write.parquet(s"$dir/events.parquet")
    Tables.events(spark, dir.getAbsolutePath)
  }

  test("legacy int64-nanos and current timestamp_ntz layouts load identically") {
    val legacy = loadAs("nanos_long")
    val current = loadAs("ntz_micros")
    for (df <- Seq(legacy, current)) {
      assert(df.schema("ts").dataType === LongType)
      assert(df.schema("ts_ts").dataType === TimestampType)
      assert(df.columns.toSeq ===
        Seq("event_id", "ts", "user_id", "event_type", "value", "props", "ts_ts"))
    }
    val l = legacy.select("event_id", "ts", "ts_ts").orderBy("event_id").collect()
    val c = current.select("event_id", "ts", "ts_ts").orderBy("event_id").collect()
    assert(l.toSeq === c.toSeq)
    assert(l.map(_.getLong(1)).toSeq === instantsMicros)
  }

  test("ts_ts is the same instant as ts under the pinned UTC session") {
    val df = loadAs("ntz_micros")
    val drift = df.filter(unix_micros(col("ts_ts")) =!= col("ts")).count()
    assert(drift === 0L)
  }

  private val Dirs = Seq(Sf, new java.io.File(Sf).getParent + "/sf0.01")

  private def tempDir(tag: String): Path = Files.createTempDirectory(s"graft_tables_$tag")

  private def inferred(dir: String, name: String): StructType =
    spark.read.parquet(s"$dir/$name.parquet").schema

  /** Spark jobs started while `body` runs. Listener events arrive in
    * order, so every job of `body` is seen once the closing marker job
    * is. */
  private def jobsDuring(body: => Unit): Int = {
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("tables-spec-open")
      body
      marker("tables-spec-close")
      val seen = Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .takeWhile(_ != "tables-spec-close")
        .map { d => assert(d != null, "listener missed the closing marker"); d }.toSeq
      assert(seen.contains("tables-spec-open"), "listener missed the opening marker")
      seen.dropWhile(_ != "tables-spec-open").size - 1
    } finally sc.removeSparkListener(listener)
  }

  /** Writes `df` as ONE parquet file at `file` (the single-file table layout),
    * replacing what is there. */
  private def writeSingleFile(df: DataFrame, file: Path): Unit = {
    val staged = tempDir("stage").resolve("out")
    df.coalesce(1).write.parquet(staged.toString)
    val part = Files.list(staged).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.deleteIfExists(file)
    Files.move(part, file)
  }

  test("a warm read launches no Spark job; the cold read infers once") {
    val dir = tempDir("jobs")
    writeSingleFile(spark.range(5).toDF("k"), dir.resolve("t.parquet"))
    assert(jobsDuring(Tables.load(spark, dir.toString, "t")) >= 1,
      "the cold read should run the inference job (or the listener sees nothing)")
    assert(jobsDuring(Tables.load(spark, dir.toString, "t")) === 0)
    Tables.orders(spark, Sf)
    assert(jobsDuring(Tables.orders(spark, Sf)) === 0)
  }

  test("the read schema is the inferred one for all ten tables at two scale factors") {
    for (dir <- Dirs; name <- Tables.names) {
      val cold = Tables.load(spark, dir, name).schema
      val warm = Tables.load(spark, dir, name).schema
      assert(cold === inferred(dir, name), s"$dir/$name")
      assert(warm === cold, s"$dir/$name")
    }
  }

  test("a table rewritten at the same path with other columns is seen on the next read") {
    val dir = tempDir("rewrite")
    val file = dir.resolve("t.parquet")
    writeSingleFile(spark.range(3).toDF("a"), file)
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq === Seq("a"))
    writeSingleFile(spark.range(3).selectExpr("id AS b", "cast(id AS string) AS c"), file)
    val again = Tables.load(spark, dir.toString, "t")
    assert(again.schema === inferred(dir.toString, "t"))
    assert(again.columns.toSeq === Seq("b", "c"))
    assert(again.orderBy("b").collect().map(_.getString(1)).toSeq === Seq("0", "1", "2"))
  }

  test("toggling spark.sql.parquet.binaryAsString is seen on the next read") {
    // a file without Spark's schema footer, so the conf decides the type
    // of its un-annotated binary column
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir("binary")
    val schema = MessageTypeParser.parseMessageType(
      "message t { required binary b; required int32 k; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("t.parquet").toString))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x").append("k", 1))
    finally w.close()
    def bType = Tables.load(spark, dir.toString, "t").schema("b").dataType
    withConf("spark.sql.parquet.binaryAsString" -> "false") {
      assert(bType === BinaryType)
    }
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      assert(bType === StringType)
      assert(Tables.load(spark, dir.toString, "t").collect().toSeq === Seq(Row("x", 1)))
    }
    withConf("spark.sql.parquet.binaryAsString" -> "false") {
      assert(bType === BinaryType)
    }
  }

  test("a Spark-written directory table reads correctly, partition column included") {
    val dir = tempDir("dir")
    val df = spark.range(6).selectExpr("id", "cast(id % 2 AS int) AS p", "repeat('x', cast(id AS int)) AS s")
    df.write.partitionBy("p").parquet(s"$dir/t.parquet")
    val cold = Tables.load(spark, dir.toString, "t")
    val warm = Tables.load(spark, dir.toString, "t")
    assert(cold.schema === inferred(dir.toString, "t"))
    assert(warm.schema === cold.schema)
    val want = spark.read.parquet(s"$dir/t.parquet").orderBy("id").collect().toSeq
    assert(warm.orderBy("id").collect().toSeq === want)
    assert(want.map(_.getAs[Int]("p")) === Seq(0, 1, 0, 1, 0, 1))
    // a part file added under the directory is listed by the next read
    spark.range(6, 8).selectExpr("id", "cast(id % 2 AS int) AS p", "'y' AS s")
      .write.mode("append").partitionBy("p").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir.toString, "t").count() === 8L)
  }

  test("eight concurrent readers all get the inferred schema") {
    // a conf value no other test sets, so every read below starts cold
    withConf("spark.sql.files.maxPartitionBytes" -> "134217731") {
      val want = Tables.names.map(n => n -> inferred(Sf, n)).toMap
      val pool = Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val reads = (0 until 8).map { t =>
          Future {
            val order = Tables.names.drop(t) ++ Tables.names.take(t)
            order.map(n => n -> Tables.load(spark, Sf, n).schema)
          }
        }
        val got = Await.result(Future.sequence(reads), 5.minutes).flatten
        assert(got.size === 80)
        got.foreach { case (n, s) => assert(s === want(n), n) }
      } finally pool.shutdown()
    }
  }
}
