package graft

import org.apache.spark.sql.functions._

/** The ANN family's Lloyd's trainers pinned bit for bit against a
  * textbook loop written here: per-partition accumulation, partials
  * folded in partition-index order, an empty cell keeping its centroid,
  * and ties to the lowest index. The DuckDB oracle replays everything
  * downstream of the dumped centroids, so these fold orders are part of
  * the contract, not an implementation detail. */
class AnnKernelSpec extends SparkTestBase {
  import spark.implicits._

  /** the sf0.001 vectors on the driver, sorted by vec_id. */
  private lazy val vectors: Seq[(Long, Array[Double])] =
    graft.util.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1).toSeq

  /** the same vectors scaled to unit length. The fixture's float32
    * coordinates sum exactly in double, so raw-vector L2 sums do not
    * depend on their order; unit vectors (like the IVF-PQ residuals)
    * round, so they pin the fold order too. */
  private lazy val units: Seq[(Long, Array[Double])] =
    vectors.map { case (id, v) => (id, v.map(_ / math.sqrt(sumSq(v)))) }

  /** fixed partitioning: three slices, in vec_id order. */
  private def fixed(vs: Seq[(Long, Array[Double])]) =
    spark.sparkContext.parallelize(vs, 3)

  private def seedOf(vs: Seq[(Long, Array[Double])]): Array[Array[Double]] =
    vs.take(16).map(_._2).toArray

  private def sumSq(v: Array[Double]): Double = {
    var acc = 0.0
    for (x <- v) acc += x * x
    acc
  }

  private def cosine(x: Array[Double], y: Array[Double]): Double = {
    var dot = 0.0
    for (i <- x.indices) dot += x(i) * y(i)
    dot / (math.sqrt(sumSq(x)) * math.sqrt(sumSq(y)))
  }

  private def l2sq(x: Array[Double], y: Array[Double]): Double = {
    var acc = 0.0
    for (i <- x.indices) { val t = x(i) - y(i); acc += t * t }
    acc
  }

  /** the first index with the best score: a later index wins only when
    * strictly better. */
  private def argBest(k: Int)(better: (Int, Int) => Boolean): Int =
    (1 until k).foldLeft(0)((b, i) => if (better(i, b)) i else b)

  /** Lloyd's iterations, spherical (argmax cosine, sums of unit
    * vectors) or L2 (argmin L2, means). */
  private def reference(vs: Seq[(Long, Array[Double])], iters: Int,
      spherical: Boolean): Array[Array[Double]] = {
    val parts = fixed(vs).glom().collect().map(_.map(_._2))
    val seed = seedOf(vs)
    val k = seed.length
    val dim = seed(0).length
    var cent = seed
    for (_ <- 0 until iters) {
      val c = cent
      val partials = parts.map { part =>
        val acc = Array.fill(k, dim)(0.0)
        val cnt = new Array[Long](k)
        for (v <- part) {
          val best = argBest(k) { (i, b) =>
            if (spherical) cosine(v, c(i)) > cosine(v, c(b))
            else l2sq(v, c(i)) < l2sq(v, c(b))
          }
          val n = math.sqrt(sumSq(v))
          for (j <- 0 until dim)
            acc(best)(j) += (if (spherical) v(j) / n else v(j))
          cnt(best) += 1
        }
        (acc, cnt)
      }
      val sums = Array.fill(k, dim)(0.0)
      val counts = new Array[Long](k)
      for ((acc, cnt) <- partials; i <- 0 until k) {
        for (j <- 0 until dim) sums(i)(j) += acc(i)(j)
        counts(i) += cnt(i)
      }
      cent = Array.tabulate(k) { i =>
        if (counts(i) == 0L) c(i)
        else if (spherical) sums(i)
        else sums(i).map(_ / counts(i).toDouble)
      }
    }
    cent
  }

  private def assertBits(got: Array[Array[Double]],
      want: Array[Array[Double]], what: String): Unit = {
    assert(got.length == want.length, s"$what: centroid count")
    for (i <- want.indices; j <- want(i).indices) {
      assert(java.lang.Double.doubleToLongBits(got(i)(j)) ==
        java.lang.Double.doubleToLongBits(want(i)(j)),
        s"$what: centroid $i coordinate $j: ${got(i)(j)} != ${want(i)(j)}")
    }
  }

  test("the trainers see the reference's three fixed partitions") {
    val rdd = fixed(vectors)
    val seen = spark.createDataset(rdd).rdd.glom().collect()
    assert(seen.length == 3 && seen.forall(_.nonEmpty))
    assert(seen.map(_.map(_._1).toSeq).toSeq ==
      rdd.glom().collect().map(_.map(_._1).toSeq).toSeq)
  }

  for (iters <- Seq(0, 1, 4)) {
    test(s"trainIvfVecs matches spherical Lloyd's bit for bit, iters=$iters") {
      val got = ops.Llm.trainIvfVecs(spark.createDataset(fixed(vectors)),
        seedOf(vectors), iters)
      assert(got.map(_._1).toSeq == (0L until 16L))
      assertBits(got.map(_._2), reference(vectors, iters, spherical = true),
        "trainIvfVecs")
    }

    for (what <- Seq("raw", "unit"))
      test(s"trainPqSub matches L2 Lloyd's bit for bit on $what vectors, " +
          s"iters=$iters") {
        val vs = if (what == "unit") units else vectors
        val got = ops.Llm.trainPqSub(
          spark.createDataset(fixed(vs)).map(_._2), seedOf(vs), iters)
        assertBits(got, reference(vs, iters, spherical = false),
          s"trainPqSub ($what)")
      }
  }
}
