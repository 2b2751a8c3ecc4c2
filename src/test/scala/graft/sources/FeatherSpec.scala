package graft.sources

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowStreamReader}
import org.apache.arrow.vector.types.TimeUnit
import org.apache.arrow.vector.types.pojo.ArrowType
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.SizeUnits

class FeatherSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("feather round-trip preserves rows and types (S3/W2)") {
    val path = Files.createTempDirectory("graft_feather_").toString + "/t.arrow"
    val df = Seq(
      (1L, 10, 1.5, 2.5f, "alpha", true,
        java.sql.Timestamp.valueOf("2024-03-01 12:30:45.123456"),
        java.sql.Date.valueOf("2024-03-01")),
      (2L, -7, -0.25, 0.0f, "béta ünïcode", false,
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59.999999"),
        java.sql.Date.valueOf("1999-12-31")))
      .toDF("l", "i", "d", "f", "s", "b", "ts", "dt")
    assert(FeatherIO.write(df, path) == 2)
    val back = FeatherIO.read(spark, path)
    assert(back.count() == 2)
    val r = back.orderBy("l").collect()
    assert(r(0).getLong(0) == 1L && r(0).getInt(1) == 10 && r(0).getDouble(2) == 1.5)
    assert(r(0).getString(4) == "alpha" && r(0).getBoolean(5))
    assert(r(1).getString(4) == "béta ünïcode")
    // instant timestamps round-trip at micro resolution AND type:
    // TimestampType writes a UTC-zoned arrow column and reads back as
    // TimestampType (not silently NTZ)
    assert(back.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(r(0).getTimestamp(6) == java.sql.Timestamp.valueOf("2024-03-01 12:30:45.123456"))
    assert(r(1).getAs[java.sql.Date]("dt").toString == "1999-12-31")
  }

  test("timestamp round-trip is type-preserving for BOTH ts and ts_ntz") {
    val path = Files.createTempDirectory("graft_feather_").toString + "/tz.arrow"
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-06-01 08:15:00")))
      .toDF("id", "ts")
      .withColumn("ntz", org.apache.spark.sql.functions.expr("cast(ts as timestamp_ntz)"))
    assert(FeatherIO.write(df, path) == 1)
    val back = FeatherIO.read(spark, path)
    assert(back.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(back.schema("ntz").dataType == org.apache.spark.sql.types.TimestampNTZType)
    val r = back.collect()(0)
    assert(r.getTimestamp(1) == java.sql.Timestamp.valueOf("2024-06-01 08:15:00"))
    assert(r.getAs[java.time.LocalDateTime](2) ==
      df.select("ntz").collect()(0).getAs[java.time.LocalDateTime](0))
  }

  test("feather handles nulls") {
    val path = Files.createTempDirectory("graft_feather_").toString + "/n.arrow"
    val df = Seq((1L, Some("x")), (2L, None)).toDF("id", "v")
    FeatherIO.write(df, path)
    val back = FeatherIO.read(spark, path).orderBy("id").collect()
    assert(back(0).getString(1) == "x")
    assert(back(1).isNullAt(1))
  }

  test("arrow IPC stream export round-trips values, nulls, and schema") {
    val path = Files.createTempDirectory("graft_arrows_").toString + "/x.arrows"
    val df = Seq((1L, Some(1.5), Some("alpha")), (2L, None, None))
      .toDF("id", "v", "s")
    assert(FeatherIO.writeStream(df, path) == 2)
    val back = FeatherIO.readStream(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "v", "s"))
    val r = back.orderBy("id").collect()
    assert(r(0).getDouble(1) == 1.5 && r(0).getString(2) == "alpha")
    assert(r(1).isNullAt(1) && r(1).isNullAt(2))
  }

  test("collectAsArrow bytes parse back to the same rows") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("id", "s")
    val bytes = FeatherIO.collectAsArrow(df)
    assert(bytes.length > 0)
    val back = FeatherIO.readArrowBytes(spark, bytes)
      .orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, null)))
  }

  test("dataset-level arrow export runs the sticky pipeline first") {
    val dir = Files.createTempDirectory("graft_arrows_ds_").toString + "/ds"
    Seq((2, "b"), (1, "a"), (1, "a")).toDF("k", "v").write.parquet(dir)
    val ds = graft.ds.GraftDataset(dir).withDistinct.withSort("k" -> true)
    val bytes = ds.collectAsArrow(spark)
    val back = FeatherIO.readArrowBytes(spark, bytes).collect()
    assert(back.map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  /** `df` written and read back through each of FeatherIO's three
    * write/read pairs; every write must report `df`'s row count. */
  private def throughEveryPath(df: DataFrame): Seq[(String, DataFrame)] = {
    val dir = Files.createTempDirectory("graft_feather_paths_").toString
    val n = df.count()
    assert(FeatherIO.write(df, s"$dir/t.arrow") == n)
    assert(FeatherIO.writeStream(df, s"$dir/t.arrows") == n)
    Seq("file" -> FeatherIO.read(spark, s"$dir/t.arrow"),
      "stream" -> FeatherIO.readStream(spark, s"$dir/t.arrows"),
      "bytes" -> FeatherIO.readArrowBytes(spark, FeatherIO.collectAsArrow(df)))
  }

  private lazy val nested = spark.sql("""
    SELECT id,
      CAST(id * 1.25 - 3 AS DECIMAL(38, 18)) AS dec,
      CAST(concat('bin', id) AS BINARY) AS bin,
      array(CAST(id AS INT), NULL, 7) AS arr,
      named_struct('a', id, 's', concat('s', id), 'ts', timestamp_micros(id * 1000001)) AS st,
      map(concat('k', id), CAST(id AS DOUBLE), 'z', NULL) AS m
    FROM range(4)
    UNION ALL
    SELECT 4, NULL, NULL, NULL, NULL, NULL""")

  test("decimal, binary, array, struct and map columns round-trip on every path") {
    val want = nested.orderBy("id").collect().toSeq
    throughEveryPath(nested).foreach { case (path, back) =>
      assert(back.schema == nested.schema, path)
      assert(back.orderBy("id").collect().toSeq == want, path)
    }
  }

  test("an empty DataFrame keeps its schema on every path") {
    val empty = nested.filter("id < 0")
    throughEveryPath(empty).foreach { case (path, back) =>
      assert(back.schema == empty.schema, path)
      assert(back.count() == 0, path)
    }
  }

  test("timestamps are labelled UTC in a non-UTC session, and keep their instants") {
    val zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val df = Seq((1L, java.sql.Timestamp.valueOf("2024-03-10 01:30:00"))).toDF("id", "ts")
      val dir = Files.createTempDirectory("graft_feather_tz_").toString
      FeatherIO.write(df, s"$dir/t.arrow")
      val bytes = FeatherIO.collectAsArrow(df)
      val allocator = new RootAllocator()
      val readers = Seq(
        new ArrowStreamReader(new ByteArrayInputStream(bytes), allocator),
        new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(
          Files.readAllBytes(Paths.get(s"$dir/t.arrow"))), allocator))
      try readers.foreach { r =>
        assert(r.getVectorSchemaRoot.getSchema.findField("ts").getType ==
          new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
      } finally { readers.foreach(_.close()); allocator.close() }
      Seq(FeatherIO.read(spark, s"$dir/t.arrow"), FeatherIO.readArrowBytes(spark, bytes)).foreach { back =>
        assert(back.schema("ts").dataType == TimestampType)
        assert(back.collect()(0).getTimestamp(1) == df.collect()(0).getTimestamp(1))
      }
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("collectAsArrow of a scan, filter and project runs one Spark job and no Exchange") {
    val dir = Files.createTempDirectory("graft_feather_jobs_").toString + "/t"
    (1 to 100).map(i => (i.toLong, i % 7, s"v$i")).toDF("id", "g", "v").write.parquet(dir)
    val df = spark.read.parquet(dir).filter($"g" === 3).select("id", "v")
    val jobs = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(j.properties.getProperty("spark.sql.execution.id")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    val bytes = try {
      val b = FeatherIO.collectAsArrow(df)
      Thread.sleep(500) // the listener bus is async
      b
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.size == 1 && jobs.peek != "null", jobs)
    assert(plans.size == 1 && !plans.peek.contains("Exchange"), plans)
    assert(FeatherIO.readArrowBytes(spark, bytes).count() == 14)
  }

  test("a feather GraftDataset is rejected when built, pointing to FeatherIO") {
    val e = intercept[IllegalArgumentException](graft.ds.GraftDataset("/nowhere", format = "feather"))
    assert(e.getMessage.contains("graft.sources.FeatherIO"), e.getMessage)
  }

  test("size units humanize (F5)") {
    assert(SizeUnits.humanize(512) == "512 B")
    assert(SizeUnits.humanize(1536) == "1.5 KB")
    assert(SizeUnits.humanize(2500000) == "2.5 MB")
    assert(SizeUnits.humanize(3L * 1000 * 1000 * 1000 * 1000) == "3.0 TB")
  }
}
