package graft.ds

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class DirectoryPartitioningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bare-value layout round-trips and is inferred as directory flavor") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dirpart_").toString + "/ds"
    val df = Seq((1L, "a", "x1"), (2L, "a", "x2"), (3L, "b", "x3"))
      .toDF("id", "grp", "payload")
    DirectoryPartitioning.write(spark, df, tmp, Seq("grp"))
    // no col= segments anywhere
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirNames = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.isDirectory).map(_.getPath.getName).toSeq
    assert(dirNames.sorted == Seq("a", "b"))
    assert(DirectoryPartitioning.inferFlavor(spark, tmp) == "directory")
    val back = DirectoryPartitioning.read(spark, tmp, Seq("grp"))
      .select("id", "grp", "payload").as[(Long, String, String)].collect().toSet
    assert(back == Set((1L, "a", "x1"), (2L, "a", "x2"), (3L, "b", "x3")))
  }

  test("bare-value partition values with '+', '%', and spaces round-trip") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dirpartesc_").toString + "/ds"
    val df = Seq((1L, "a+b"), (2L, "a%b"), (3L, "a b"), (4L, "plain"))
      .toDF("id", "grp")
    DirectoryPartitioning.write(spark, df, tmp, Seq("grp"))
    val back = DirectoryPartitioning.read(spark, tmp, Seq("grp"))
      .select("id", "grp").as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a+b"), (2L, "a%b"), (3L, "a b"), (4L, "plain")))
  }

  test("externally-written bare layout with stray % passes through undecoded") {
    // simulate a layout NOT produced by our write() (no hive escaping):
    // a directory literally named '100%'
    val root = java.nio.file.Files.createTempDirectory("graft_dirext_").toString + "/ds"
    Seq((1L, "v")).toDF("id", "payload").write.parquet(root + "/100%")
    val back = DirectoryPartitioning.read(spark, root, Seq("grp"))
      .select("id", "grp").as[(Long, String)].collect().toSet
    assert(back == Set((1L, "100%")))
  }

  test("two-level bare-value layout recovers both partition columns") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dirpart2_").toString + "/ds"
    val df = Seq((1L, "a", "p", 1.0), (2L, "b", "q", 2.0), (3L, "b", "p", 3.0))
      .toDF("id", "g1", "g2", "v")
    DirectoryPartitioning.write(spark, df, tmp, Seq("g1", "g2"))
    val back = DirectoryPartitioning.read(spark, tmp, Seq("g1", "g2"))
      .select("id", "g1", "g2").as[(Long, String, String)].collect().toSet
    assert(back == Set((1L, "a", "p"), (2L, "b", "q"), (3L, "b", "p")))
  }

  test("hive layouts are inferred as hive") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_hivein_").toString + "/ds"
    Seq((1L, "a")).toDF("id", "grp")
      .write.partitionBy("grp").parquet(tmp)
    assert(DirectoryPartitioning.inferFlavor(spark, tmp) == "hive")
  }
}

class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("asof join: backward match, exact-ts inclusion, null when none, per-key isolation") {
    val left = Seq(
      (1L, "u1", "2024-01-01 10:00:00"),
      (2L, "u1", "2024-01-01 12:00:00"),
      (3L, "u2", "2024-01-01 11:00:00"),   // u2 has no earlier right row
      (4L, "u1", "2024-01-01 09:00:00"))   // before every right row
      .toDF("id", "k", "ts").withColumn("ts", $"ts".cast("timestamp"))
    val right = Seq(
      ("u1", "2024-01-01 10:00:00", 100.0), // exact tie with left id=1 → matches
      ("u1", "2024-01-01 11:30:00", 200.0),
      ("u2", "2024-01-01 11:30:00", 300.0)) // after u2's left row → no match
      .toDF("k", "ts", "v").withColumn("ts", $"ts".cast("timestamp"))
    val out = graft.operators.AsOfJoin.asof(left, right, Seq("k"), "ts", "ts")
      .select($"id", $"asof_v").as[(Long, Option[Double])].collect().toMap
    assert(out(1L).contains(100.0)) // >= includes equal ts
    assert(out(2L).contains(200.0)) // latest of the two earlier rows
    assert(out(3L).isEmpty)         // other key's rows invisible
    assert(out(4L).isEmpty)         // nothing at or before
  }
}

class RangeJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bucketed range join equals the naive inequality join") {
    val pts = Seq(
      (1L, "u1", "2024-01-01 10:30:00"), (2L, "u1", "2024-01-01 13:30:00"),
      (3L, "u2", "2024-01-01 10:30:00"), (4L, "u1", "2024-01-01 10:00:00"),
      (5L, "u1", "2024-01-01 12:00:00")) // == w_end → excluded ([s,e))
      .toDF("id", "k", "ts").withColumn("ts", $"ts".cast("timestamp"))
    val ivs = Seq(
      ("u1", "2024-01-01 10:00:00", "2024-01-01 12:00:00"),
      ("u2", "2024-01-01 11:00:00", "2024-01-01 12:00:00"))
      .toDF("k", "s", "e")
      .withColumn("s", $"s".cast("timestamp")).withColumn("e", $"e".cast("timestamp"))
    val bucketed = graft.operators.RangeJoin.pointInInterval(
        pts, ivs, Seq("k"), "ts", "s", "e", bucketSeconds = 1800L)
      .select("id").as[Long].collect().toSet
    val naive = pts.join(ivs, Seq("k"))
      .filter($"ts" >= $"s" && $"ts" < $"e").select("id").as[Long].collect().toSet
    assert(bucketed == naive)
    assert(bucketed == Set(1L, 4L)) // 3: outside u2's window; 5: == end
  }
}

class SkewJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("salted join is bit-identical to the plain join under heavy skew") {
    // hot key 7 carries 90% of the volume
    val big = ((1 to 900).map(_ => 7L) ++ (1L to 100L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "payload")
    val small = (1L to 100L).map(i => (i, s"d$i")).toDF("k", "name")
    val plain = big.join(small, "k")
      .select("k", "payload", "name").as[(Long, Long, String)].collect().sorted
    val salted = graft.operators.SkewJoin.saltedJoin(big, small, Seq("k"), buckets = 4)
      .select("k", "payload", "name").as[(Long, Long, String)].collect().sorted
    assert(salted.toSeq == plain.toSeq)
  }
}
