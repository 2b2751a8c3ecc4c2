package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-19 optimization scratch probe: stage-times the pieces of a key
  * under investigation so a change targets the measured cost, not a
  * guess (guide §1). Edited per investigation; the committed version
  * documents the last probe run. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.OptProbe w14"
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"))
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s"); r
    }
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warmup write+read paths
    locally {
      val wtmp = java.nio.file.Files.createTempDirectory("graft_q_warm").toString + "/ds"
      val wds = graft.ds.GraftDataset(wtmp)
      graft.ds.DatasetWriter(wds, graft.ds.WriteMode.Overwrite)
        .write(spark, spark.range(0, 10000).selectExpr("id", "cast(id as double) v"))
      force(spark.read.parquet(wtmp))
    }

    args.headOption.getOrElse("w14") match {
      case "w14" =>
        import graft.ds._
        val li = t("load lineitem")(graft.Tables.load(spark, dir, "lineitem"))
        for (rgs <- Seq(200L, 2000L, 10000L)) {
          val out = java.nio.file.Files.createTempDirectory("graft_q_w14probe").toString + "/ds"
          val ds = GraftDataset(out)
          t(s"write rowGroupSize=$rgs") {
            DatasetWriter(ds, WriteMode.Overwrite, rowGroupSize = Some(rgs))
              .withClusterBy("l_shipdate")
              .write(spark, li.repartition(4, col("l_orderkey")))
          }
          val files = ds.dataFiles(spark)
          val ranges = t(s"footerBlocks rgs=$rgs") {
            graft.sources.ParquetMeta.footerBlocks(spark, files) { b =>
              val c = graft.sources.ParquetMeta.blockColumn(b, "l_shipdate")
              val s = c.getStatistics
              (String.valueOf(s.genericGetMin), String.valueOf(s.genericGetMax))
            }
          }
          println(s"[probe] rgs=$rgs files=${files.size} rowGroups=${ranges.size}")
          t(s"final agg rgs=$rgs") {
            force(spark.read.parquet(out)
              .filter(col("l_shipdate").between("1995-01-01", "1995-03-31"))
              .agg(count(lit(1)).as("n_rows"),
                sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty")))
          }
          graft.tools.Hygiene.sweepTmp()
        }
      case "stream" =>
        // decompose the x_stream_* per-key cost: staging + N micro-batches
        // x (trigger planning + state checkpoint + sink). Variants pin
        // which slice of the ~0.86 s/batch overhead belongs to the
        // foreachBatch delta sink vs Spark's own checkpoint floor.
        val base = java.nio.file.Files.createTempDirectory("graft_q_sprobe").toString
        val staged = base + "/src"
        t("stage 3 slices") {
          val df = graft.Tables.load(spark, dir, "events")
          df.repartitionByRange(3, col("ts"), col("event_id"))
            .sortWithinPartitions(col("ts"), col("event_id"))
            .write.parquet(staged)
          val parts = new java.io.File(staged).listFiles()
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          parts.zipWithIndex.foreach { case (f, i) =>
            require(f.setLastModified(1000000L * (i + 1))) }
        }
        def runVariant(tag: String, width: Int, sink: String): Unit = {
          val key = "spark.sql.shuffle.partitions"
          val prev = spark.conf.get(key)
          spark.conf.set(key, width.toString)
          try t(s"stream $tag (width=$width sink=$sink)") {
            val agg = graft.streaming.EventsStream.windowedAgg(
              graft.streaming.EventsStream.readEvents(spark, staged))
            val q = sink match {
              case "delta" => graft.streaming.EventsStream.startDeltaSink(
                agg, s"$base/sink_$tag", s"$base/ckpt_$tag")
              case "noop" => agg.writeStream.outputMode("append")
                .option("checkpointLocation", s"$base/ckpt_$tag")
                .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
                .format("noop").start()
            }
            q.awaitTermination()
          } finally spark.conf.set(key, prev)
        }
        runVariant("warm", 8, "delta")   // discard: streaming engine init
        runVariant("delta8", 8, "delta")
        runVariant("noop8", 8, "noop")
        runVariant("delta4", 4, "delta")
        runVariant("noop2", 2, "noop")
        runVariant("delta8b", 8, "delta") // repeat for noise read
      case "writes" =>
        import graft.ds._
        // w13: fragmented write vs compact vs readback
        locally {
          val dst = java.nio.file.Files.createTempDirectory("graft_q_w13p").toString + "/ds"
          val ds = GraftDataset(dst, partitioning = Seq("c_mktsegment"))
          val customer = graft.Tables.load(spark, dir, "customer")
          val batch = math.max(1L,
            graft.sources.ParquetMeta.metadataRowCount(customer)
              .getOrElse(customer.count()) / 150)
          t("w13 fragmented write") {
            DatasetWriter(ds, WriteMode.Overwrite, batchRows = Some(batch))
              .write(spark, customer)
          }
          println(s"[probe] w13 files after write: ${ds.dataFiles(spark).size}")
          t("w13 compact")(Repartition.compact(spark, ds))
          t("w13 readback") {
            force(spark.read.parquet(dst)
              .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
              .orderBy("c_custkey"))
          }
        }
        // w7: count-batched write decomposition
        locally {
          val out = java.nio.file.Files.createTempDirectory("graft_q_w7p").toString + "/ds"
          val ds = GraftDataset(out)
          val src = graft.Tables.load(spark, dir, "lineitem")
          t("w7 count job")(src.count())
          t("w7 batched write") {
            DatasetWriter(ds, WriteMode.Overwrite).withBatchRows(10000).write(spark, src)
          }
          t("w7 readback count")(ds.df(spark).count())
          t("w7 dataFiles")(ds.dataFiles(spark).size)
        }
        // w16: bloom delta decomposition
        locally {
          val out = java.nio.file.Files.createTempDirectory("graft_q_w16p").toString + "/ds"
          val ds = GraftDataset(out)
          val cust = graft.Tables.load(spark, dir, "customer")
            .select("c_custkey", "c_name", "c_acctbal")
          val w = DatasetWriter(ds).withDeltaSubset("c_custkey").withBloomIndex
          t("w16 seed write")(w.write(spark, cust.filter(col("c_custkey") % 2 === 0)))
          t("w16 delta overlap")(w.withMode(WriteMode.Delta).write(spark, cust))
          t("w16 delta rerun")(w.withMode(WriteMode.Delta).write(spark, cust))
          val shifted = cust.select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
            col("c_name"), col("c_acctbal"))
          t("w16 delta allnew")(w.withMode(WriteMode.Delta).write(spark, shifted))
          t("w16 readback") {
            force(spark.read.parquet(out)
              .agg(count(lit(1)).as("n_rows"), countDistinct(col("c_custkey")).as("dk")))
          }
        }
      case "w13raw" =>
        // isolate: raw Spark partitioned+maxRecordsPerFile write vs the
        // DatasetWriter wrapper, and the effect of the salt repartition
        val customer = graft.Tables.load(spark, dir, "customer")
        for (i <- 1 to 2) {
          val d1 = java.nio.file.Files.createTempDirectory("graft_q_r1").toString + "/ds"
          t(s"raw write, no repartition ($i)") {
            customer.write.partitionBy("c_mktsegment")
              .option("maxRecordsPerFile", "100").option("compression", "zstd")
              .parquet(d1)
          }
          val d2 = java.nio.file.Files.createTempDirectory("graft_q_r2").toString + "/ds"
          t(s"raw write, salted repartition ($i)") {
            val dataCols = customer.columns.filterNot(_ == "c_mktsegment")
            customer.repartition(col("c_mktsegment"),
                pmod(xxhash64(struct(dataCols.toIndexedSeq.map(col): _*)), lit(8L)))
              .write.partitionBy("c_mktsegment")
              .option("maxRecordsPerFile", "100").option("compression", "zstd")
              .parquet(d2)
          }
          val d3 = java.nio.file.Files.createTempDirectory("graft_q_r3").toString + "/ds"
          t(s"raw write, snappy ($i)") {
            customer.write.partitionBy("c_mktsegment")
              .option("maxRecordsPerFile", "100").option("compression", "snappy")
              .parquet(d3)
          }
          val d4 = java.nio.file.Files.createTempDirectory("graft_q_r4").toString + "/ds"
          t(s"dataset writer ($i)") {
            graft.ds.DatasetWriter(
              graft.ds.GraftDataset(d4, partitioning = Seq("c_mktsegment")),
              graft.ds.WriteMode.Overwrite, batchRows = Some(100L))
              .write(spark, customer)
          }
          graft.tools.Hygiene.sweepTmp()
        }
      case "corr" =>
        val li = graft.Tables.load(spark, dir, "lineitem")
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        t("scan only (4 cols)")(force(li.select(cols.map(col): _*)))
        def latD(c: String) = round(col(c).cast("double") * 10000, 0).cast("decimal(38,0)")
        def lat18(c: String) = round(col(c).cast("double") * 10000, 0).cast("decimal(18,0)")
        def latDouble(c: String) = round(col(c).cast("double") * 10000, 0)
        val pairs = for { i <- cols.indices; j <- i + 1 until cols.size } yield (i, j)
        def aggs(f: String => org.apache.spark.sql.Column) =
          (count(lit(1)).as("__n") +:
            cols.indices.flatMap(i => Seq(sum(f(cols(i))).as(s"__s_$i"),
              sum(f(cols(i)) * f(cols(i))).as(s"__ss_$i")))) ++
            pairs.zipWithIndex.map { case ((i, j), p) =>
              sum(f(cols(i)) * f(cols(j))).as(s"__sp_$p") }
        for (r <- 1 to 2) {
          t(s"agg decimal38 ($r)") { val a = aggs(latD); force(li.agg(a.head, a.tail: _*)) }
          t(s"agg decimal18 ($r)") { val a = aggs(lat18); force(li.agg(a.head, a.tail: _*)) }
          t(s"agg double ($r)") { val a = aggs(latDouble); force(li.agg(a.head, a.tail: _*)) }
          t(s"full corrMatrix ($r)") {
            force(graft.operators.Profiling.corrMatrix(li, cols, 4, listwise = true))
          }
        }
      case "dec" =>
        // q1-shape decimal aggregation: how much of the key is the
        // HALF_UP cast (oracle-parity contract) vs the BigDecimal SUM
        // (replaceable by a 128-bit unscaled accumulator)?
        val li = graft.Tables.load(spark, dir, "lineitem")
        val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        val charge = disc * (lit(1.0) + col("l_tax"))
        def gby(aggs: Seq[org.apache.spark.sql.Column]) =
          li.groupBy("l_returnflag", "l_linestatus").agg(aggs.head, aggs.tail: _*)
        val asIs = Seq(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("a"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("b"),
          sum(disc.cast("decimal(22,6)")).cast("double").as("c"),
          sum(charge.cast("decimal(22,6)")).cast("double").as("d"),
          count(lit(1)).as("n"))
        val castOnly = Seq(
          sum(col("l_quantity").cast("decimal(18,2)").cast("double")).as("a"),
          sum(col("l_extendedprice").cast("decimal(18,2)").cast("double")).as("b"),
          sum(disc.cast("decimal(22,6)").cast("double")).as("c"),
          sum(charge.cast("decimal(22,6)").cast("double")).as("d"),
          count(lit(1)).as("n"))
        val dbl = Seq(sum(col("l_quantity")).as("a"), sum(col("l_extendedprice")).as("b"),
          sum(disc).as("c"), sum(charge).as("d"), count(lit(1)).as("n"))
        t("scan only (5 cols)")(force(li.select("l_quantity", "l_extendedprice",
          "l_discount", "l_tax", "l_returnflag")))
        def sdec(c: org.apache.spark.sql.Column) =
          graft.plans.GraftExpressions.sumDec128(c)
        val dec128 = Seq(
          sdec(col("l_quantity").cast("decimal(18,2)")).cast("double").as("a"),
          sdec(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("b"),
          sdec(disc.cast("decimal(22,6)")).cast("double").as("c"),
          sdec(charge.cast("decimal(22,6)")).cast("double").as("d"),
          count(lit(1)).as("n"))
        // bit-identity gate before any timing matters
        val lhs = gby(asIs).orderBy("l_returnflag", "l_linestatus").collect()
        val rhs = gby(dec128).orderBy("l_returnflag", "l_linestatus").collect()
        require(lhs.sameElements(rhs),
          s"sumDec128 mismatch:\n${lhs.mkString("\n")}\nvs\n${rhs.mkString("\n")}")
        println("[probe] sumDec128 == builtin: OK")
        for (r <- 1 to 3) {
          t(s"q1 as-is decimal sums ($r)")(force(gby(asIs)))
          t(s"q1 sumDec128 sums   ($r)")(force(gby(dec128)))
          t(s"cast-only, double sums ($r)")(force(gby(castOnly)))
          t(s"all-double sums ($r)")(force(gby(dbl)))
        }
      case "sp128" =>
        val li = graft.Tables.load(spark, dir, "lineitem")
        def lat(c: String) = round(col(c).cast("double") * 10000, 0).cast("long")
        def sp(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
          graft.plans.GraftExpressions.sumProd128(x, y)
        val agg1 = li.agg(sp(lat("l_quantity"), lat("l_extendedprice")).as("a"),
          sp(lat("l_quantity"), lat("l_quantity")).as("b"),
          sp(lat("l_extendedprice"), lat("l_extendedprice")).as("c"))
        def latD(c: String) = round(col(c).cast("double") * 10000, 0).cast("decimal(38,0)")
        val aggD = li.agg(sum(latD("l_quantity") * latD("l_extendedprice")).as("a"),
          sum(latD("l_quantity") * latD("l_quantity")).as("b"),
          sum(latD("l_extendedprice") * latD("l_extendedprice")).as("c"))
        def latF(c: String) = round(col(c).cast("double") * 10000, 0)
        val aggF = li.agg(sum(latF("l_quantity") * latF("l_extendedprice")).as("a"),
          sum(latF("l_quantity") * latF("l_quantity")).as("b"),
          sum(latF("l_extendedprice") * latF("l_extendedprice")).as("c"))
        for (r <- 1 to 3) {
          t(s"agg sumProd128 x3 ($r)")(force(agg1))
          t(s"agg decimal38  x3 ($r)")(force(aggD))
          t(s"agg double     x3 ($r)")(force(aggF))
        }
        locally {
          spark.conf.set("spark.sql.codegen.fallback", "false")
          spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
          try {
            force(li.limit(100).agg(sp(lat("l_quantity"), lat("l_extendedprice"))))
            println("[probe] CODEGEN_ONLY sp128: OK")
            for (r <- 1 to 3) t(s"agg sumProd128 x3 CODEGEN_ONLY ($r)")(force(
              li.agg(sp(lat("l_quantity"), lat("l_extendedprice")).as("a"),
                sp(lat("l_quantity"), lat("l_quantity")).as("b"),
                sp(lat("l_extendedprice"), lat("l_extendedprice")).as("c"))))
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            val one = li.agg(sp(lat("l_quantity"), lat("l_extendedprice")))
            import org.apache.spark.sql.execution.debug._
            val outB = new java.io.ByteArrayOutputStream()
            Console.withOut(new java.io.PrintStream(outB))(one.debugCodegen())
            val code = outB.toString
            println("[probe] subtrees: " + code.linesIterator
              .find(_.contains("WholeStageCodegen subtrees")).getOrElse("?"))
            val hit = code.linesIterator.zipWithIndex
              .filter { case (l, _) => l.contains("Int128Math") || l.contains("addHi") }
              .take(6).map { case (l, i) => s"$i: ${l.trim.take(160)}" }
            println("[probe] addHi lines:\n" + hit.mkString("\n"))
            spark.conf.set("spark.sql.adaptive.enabled", "true")
          } catch { case e: Throwable =>
            println("[probe] CODEGEN_ONLY sp128 FAILED: " +
              e.toString.take(600))
            var c = e.getCause
            while (c != null) { println("[probe] cause: " + c.toString.take(400)); c = c.getCause }
          } finally {
            spark.conf.set("spark.sql.codegen.fallback", "true")
            spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
          }
        }
      case "pctab" =>
        val li = graft.Tables.load(spark, dir, "lineitem")
        for (r <- 1 to 3) {
          t(s"builtin percentile ($r)") {
            force(li.agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))")))
          }
          t(s"exactPercentiles ($r)") {
            force(graft.operators.Sketches.exactPercentiles(
              li, "l_extendedprice", Seq(0.5, 0.9, 0.99)))
            spark.catalog.clearCache()
          }
        }
      case "pct" =>
        val li = graft.Tables.load(spark, dir, "lineitem")
        println(s"[probe] distinct extendedprice: " +
          li.select(countDistinct(col("l_extendedprice"))).collect()(0).getLong(0) +
          s" of ${li.count()}")
        for (r <- 1 to 2) {
          t(s"percentile raw ($r)") {
            force(li.agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))")))
          }
          t(s"percentile freq ($r)") {
            val counts = li.groupBy(col("l_extendedprice").as("__v"))
              .agg(count(lit(1)).as("__c"))
            force(counts.agg(expr("percentile(__v, array(0.5D, 0.9D, 0.99D), __c)")))
          }
          t(s"counts+sort floor ($r)") {
            // codegen floor: distinct counts then range-sorted cumsum-free pass
            val counts = li.groupBy(col("l_extendedprice").as("__v"))
              .agg(count(lit(1)).as("__c"))
            force(counts.repartitionByRange(8, col("__v")).sortWithinPartitions("__v"))
          }
        }
      case other => sys.error(s"unknown probe $other")
    }
    spark.stop()
  }
}
