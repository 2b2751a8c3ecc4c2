package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Proves the SCALE.md claim behind IVF at 100 TB: persist the corpus
  * hive-partitioned by its cluster id and a probe's search touches only
  * its `nprobe` partition DIRECTORIES — partition pruning happens at the
  * scan, before any file is opened. */
class IvfLayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cluster-partitioned corpus prunes to nprobe directories at scan") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".as("cv"))
    val assigned = Similarity.assignClusters(emb, "vec_id", "embedding", centroids)
      .select($"corpus_id", $"cid", $"xv".as("embedding"))

    val dir = Files.createTempDirectory("graft_ivf_").toString + "/corpus"
    assigned.write.partitionBy("cid").parquet(dir)

    // all 8 cluster directories exist (every centroid id is its own
    // nearest centroid, so no cluster is empty)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dirs.map(_.takeWhile(_ != '=')).forall(_ == "cid"))
    assert(dirs.size == 8, dirs)

    // probing 2 clusters: the scan must carry a partition filter and
    // read files from exactly those 2 directories
    val probed = spark.read.parquet(dir).filter($"cid".isin(3, 5))
    val scan = probed.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty, "no partition filters pushed")
    val readDirs = scan.inputRDDs().head.partitions.length // non-empty only after pruning
    val files = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).map(_.getPath.toString)
    assert(files.nonEmpty)
    assert(files.forall(p => p.contains("cid=3") || p.contains("cid=5")), files.take(3))

    // and the pruned read returns exactly the rows of those clusters
    val expected = assigned.filter($"cid".isin(3, 5)).count()
    assert(probed.count() == expected)
    assert(readDirs >= 1)
  }

  test("IVF x PQ: a vector-free serving table prunes to nprobe dirs and ADC-ranks bit-equal to pqTopK") {
    // the SCALE.md composition claim end to end: assign -> PQ-encode ->
    // persist partitioned by cluster WITHOUT the vector column; a probe
    // scans only its nprobe partitions' codes and the ADC ranking over
    // that table is bit-identical to pqTopK on the same clusters
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".as("cv"))
    val assigned = Similarity.assignClusters(emb, "vec_id", "embedding", centroids)
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ks = 8, iters = 0)

    val serving = assigned.select($"corpus_id", $"cid")
      .join(Similarity.pqEncode(emb, "vec_id", "embedding", cb), Seq("corpus_id"))
    val dir = Files.createTempDirectory("graft_ivfpq_").toString + "/serving"
    serving.write.partitionBy("cid").parquet(dir)

    // the serving table carries codes + norm only — no vector column
    val table = spark.read.parquet(dir)
    assert(!table.columns.contains("embedding") && !table.columns.contains("xv"),
      s"serving table must be vector-free: ${table.columns.toSeq}")

    // probe vec_id = 3: nprobe = 2 nearest centroids by exact cosine
    val pRow = emb.filter($"vec_id" === 3).select($"embedding")
      .as[Array[Float]].head()
    val cents = centroids.as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      if (na * nb > 0) d / math.sqrt(na * nb) else 0.0
    }
    val nprobeCids = cents.map { case (cid, cv) => (cos(pRow, cv), cid) }
      .sortBy { case (s, cid) => (-s, cid) }.take(2).map(_._2)

    val probed = table.filter($"cid".isin(nprobeCids: _*))
    val scan = probed.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty, "no partition filters pushed")
    val files = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).map(_.getPath.toString)
    assert(files.nonEmpty && files.forall(p => nprobeCids.exists(c => p.contains(s"cid=$c"))),
      files.take(3).toSeq)

    // ADC ranking over the pruned codes-only scan
    val spark0 = spark
    val cbLit = typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    val pLut = emb.filter($"vec_id" === 3).select(
      $"vec_id".as("probe_id"),
      Similarity.norm($"embedding").as("__pn"),
      graft.plans.GraftExpressions.pqLut($"embedding", cbLit).as("__lut"))
    val fromTable = probed.join(broadcast(pLut), $"corpus_id" =!= $"probe_id")
      .withColumn("adc", graft.plans.GraftExpressions.pqAdc($"__codes", $"__lut", 8))
      .withColumn("sim", when($"__pn" * $"__vn" > 0, $"adc" / ($"__pn" * $"__vn")).otherwise(0.0))
      .select($"corpus_id", $"sim").as[(Long, Double)].collect()
      .sortBy { case (id, s) => (-s, id) }.take(3).toSeq

    // reference: pqTopK (same codebook via codebookSource) on the corpus
    // RESTRICTED to the probed clusters — must agree bit-for-bit
    val restricted = emb.join(
      assigned.filter($"cid".isin(nprobeCids: _*)).select($"corpus_id".as("vec_id")),
      Seq("vec_id"))
    val viaOp = Similarity.pqTopK(restricted, emb.filter($"vec_id" === 3),
        "vec_id", "embedding", k = 3, m = 8, ks = 8, refine = 0,
        codebookSource = Some(Similarity.pqCodebookFrame(spark0, cb)))
      .select($"corpus_id", $"sim").as[(Long, Double)].collect()
      .sortBy { case (id, s) => (-s, id) }.toSeq
    assert(fromTable == viaOp,
      s"IVF-PQ table ranking $fromTable != pqTopK $viaOp")
  }
}
