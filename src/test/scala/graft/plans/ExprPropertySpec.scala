package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Randomized batch invariants for the custom Catalyst expressions —
  * the hot-path code every dedup/ANN pipeline rides. Fixed-seed data,
  * one Spark job per invariant. */
class ExprPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(1234)

  test("orderedPairs emits exactly the C(n,2) distinct ordered pairs") {
    val rows = (1 to 100).map { _ =>
      val n = rnd.nextInt(30)
      // ids with duplicates and negatives — the expression sees real-
      // world id lists (bucket posting lists are distinct, but the
      // expression itself must not assume it)
      (1 to n).map(_ => rnd.nextLong() % 1000).distinct.sorted.toArray
    }
    val out = rows.toDF("ids")
      .select(col("ids"), explode(GraftExpressions.orderedPairs(col("ids"))).as("p"))
      .select(col("ids"), col("p.id_a"), col("p.id_b"))
      .as[(Seq[Long], Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    rows.filter(_.length >= 2).foreach { ids =>
      val pairs = out.getOrElse(ids.toSeq, Nil)
      val expected = (for {
        i <- ids.indices; j <- (i + 1) until ids.length
      } yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))).toSet
      assert(pairs.toSet == expected, s"ids=${ids.toSeq}")
      assert(pairs.length == ids.length * (ids.length - 1) / 2)
      assert(pairs.forall { case (a, b) => a < b })
    }
  }

  test("shingle hashes == sorted xxhash64 image of the shingle set on random text") {
    // random whitespace-noisy unicode-ish docs: the hashed twin must
    // track WordShingles through every tokenizer edge the generator
    // can produce (empty docs, runs of whitespace, short docs < n)
    val words = Vector("alpha", "Beta", "γάμμα", "d", "Ée", "", "  ", "\t", "zeta0")
    val docs = (1 to 300).map { i =>
      val n = rnd.nextInt(12)
      (i.toLong, (1 to n).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    val bad = df.select(
      graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("fast"),
      array_sort(transform(
        graft.functions.TextFunctions.shingleSet(col("text"), 3),
        s => xxhash64(s))).as("ref"))
      .filter(not(col("fast") === col("ref"))).count()
    assert(bad == 0L)
    // intersect counts agree across representations (jaccard carrier)
    val pairs = df.as("a").join(df.as("b"), col("a.id") < col("b.id")).limit(2000)
      .select(
        GraftExpressions.intersectCount(
          graft.functions.TextFunctions.shingleHashes(col("a.text"), 3),
          graft.functions.TextFunctions.shingleHashes(col("b.text"), 3)).as("h"),
        GraftExpressions.intersectCount(
          graft.functions.TextFunctions.shingleSet(col("a.text"), 3),
          graft.functions.TextFunctions.shingleSet(col("b.text"), 3)).as("s"))
      .filter(col("h") =!= col("s")).count()
    assert(pairs == 0L)
  }

  test("sorted-merge intersect count equals set intersection size") {
    val rows = (1 to 200).map { _ =>
      val a = (1 to rnd.nextInt(40)).map(_ => s"s${rnd.nextInt(50)}").distinct.sorted
      val b = (1 to rnd.nextInt(40)).map(_ => s"s${rnd.nextInt(50)}").distinct.sorted
      (a, b)
    }
    val out = rows.toDF("a", "b")
      .select(col("a"), col("b"),
        GraftExpressions.intersectCount(col("a"), col("b")).as("n"))
      .as[(Seq[String], Seq[String], Int)].collect()
    out.foreach { case (a, b, n) =>
      assert(n == a.toSet.intersect(b.toSet).size, s"a=$a b=$b")
    }
  }

  test("graft_topk equals the row_number window formulation, ties included") {
    GraftExpressions.register(spark)
    // deliberately FEW distinct sims so ties are common — the heap's
    // (sim desc, id asc) tie-break must match the window's ordering
    val data = (1 to 2000).map(i =>
      (i % 7, rnd.nextInt(5).toDouble, rnd.nextInt(300).toLong)).distinct
    data.toDF("g", "sim", "id").createOrReplaceTempView("topk_prop")
    val viaHeap = spark.sql(
      """SELECT g, p.id AS id, p.sim AS sim FROM (
        |  SELECT g, explode(graft_topk(sim, id, 5)) AS p
        |  FROM topk_prop GROUP BY g)""".stripMargin)
      .as[(Int, Long, Double)].collect().toSet
    val viaWindow = spark.sql(
      """SELECT g, id, sim FROM (
        |  SELECT g, id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY sim DESC, id) AS rn
        |  FROM (SELECT DISTINCT g, sim, id FROM topk_prop))
        |WHERE rn <= 5""".stripMargin)
      .as[(Int, Long, Double)].collect().toSet
    assert(viaHeap == viaWindow,
      s"heap-window diff: ${(viaHeap diff viaWindow).take(5)} / ${(viaWindow diff viaHeap).take(5)}")
  }

  test("lsh sign buckets are deterministic and in range") {
    val vecs = (1 to 200).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    for (nbits <- Seq(1, 2, 4, 8)) {
      val out = vecs.toDF("id", "v")
        .select(GraftExpressions.lshBits(col("v"), nbits).as("b"))
        .as[Long].collect()
      assert(out.forall(b => b >= 0 && b < (1L << nbits)),
        s"bucket out of range for nbits=$nbits: ${out.max}")
      val out2 = vecs.toDF("id", "v")
        .select(GraftExpressions.lshBits(col("v"), nbits).as("b"))
        .as[Long].collect()
      assert(out.toSeq == out2.toSeq)
    }
  }

  test("PQ kernels == reference Scala math on random vectors and codebooks") {
    // the three-stage PQ contract on randomized inputs: encode is the
    // exact per-subspace argmin-L2 (ties to lowest j), the LUT carries
    // the exact subvector dots, and ADC(codes, lut) == the dot of the
    // query against the row's RECONSTRUCTION (selected codebook entries
    // concatenated) computed per-subspace — the identity the whole
    // approximation rests on
    val m = 4; val ks = 8; val d = 4; val dim = m * d
    val cb: Array[Array[Array[Double]]] = Array.fill(m, ks, d)(
      math.rint(rnd.nextDouble() * 8) / 4.0) // coarse grid → real ties occur
    val cbLit = typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    val vecs = (1 to 200).map { i =>
      (i.toLong, Array.fill(dim)((math.rint(rnd.nextDouble() * 8) / 4.0).toFloat))
    }
    val out = vecs.toDF("id", "v").select(
        $"id",
        GraftExpressions.pqEncode($"v", cbLit).as("codes"),
        GraftExpressions.pqLut($"v", cbLit).as("lut"),
        GraftExpressions.pqAdc(
          GraftExpressions.pqEncode($"v", cbLit),
          GraftExpressions.pqLut($"v", cbLit), ks).as("adc"))
      .as[(Long, Seq[Int], Seq[Double], Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    vecs.foreach { case (id, v) =>
      val (codes, lut, adc) = out(id)
      (0 until m).foreach { s =>
        // reference argmin with lowest-j ties, in double
        val scored = (0 until ks).map { j =>
          val c = cb(s)(j)
          val dist = (0 until d).map(i => (v(s * d + i).toDouble - c(i)) * (v(s * d + i).toDouble - c(i))).sum
          (dist, j)
        }
        val best = scored.minBy { case (dist, j) => (dist, j) }._2
        assert(codes(s) == best, s"id=$id s=$s: kernel ${codes(s)} vs reference $best")
        (0 until ks).foreach { j =>
          val dot = (0 until d).map(i => v(s * d + i).toDouble * cb(s)(j)(i)).sum
          assert(math.abs(lut(s * ks + j) - dot) < 1e-12)
        }
      }
      val recon = (0 until m).map { s =>
        (0 until d).map(i => v(s * d + i).toDouble * cb(s)(codes(s))(i)).sum
      }.sum
      assert(math.abs(adc - recon) < 1e-12, s"id=$id: adc $adc vs reconstruction dot $recon")
    }
  }
}
