package graft

import graft.queries.SimilarityQueries
import org.apache.spark.sql.functions._

/** Pins `embedding_gram`'s distributed partial-triangle fold against a
  * driver-scale brute-force accumulation: identical integer micro-point
  * arithmetic applied vector by vector on the driver must reproduce
  * every one of the D(D+1)/2 cells — partition boundaries, the
  * map-side triangle fold, and the (i, j) labeling all cancel out or
  * they don't.
  */
class GramSpec extends SparkSuite {

  test("embedding_gram equals the driver-scale brute-force fold") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("e"))
      .collect().map(_.getSeq[Double](0).toArray)
    val d = vecs.head.length
    assert(d == 64)
    val acc = Array.ofDim[Long](d, d)
    vecs.foreach { v =>
      val u = v.map(x => math.floor(x * 1e6 + 0.5).toLong)
      var i = 0
      while (i < d) {
        var j = i
        while (j < d) { acc(i)(j) += u(i) * u(j); j += 1 }
        i += 1
      }
    }
    val got = SimilarityQueries.defs.find(_.name == "embedding_gram").get
      .fn(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.size == d * (d + 1) / 2)
    for (i <- 0 until d; j <- i until d)
      assert(got((i + 1L, j + 1L)) == acc(i)(j),
        s"cell ($i, $j): ${got((i + 1L, j + 1L))} != ${acc(i)(j)}")
    // the diagonal is a sum of squares — strictly positive on any
    // non-degenerate corpus (and the PCA variance input downstream)
    for (i <- 1L to d.toLong) assert(got((i, i)) > 0L)
  }

  test("chunked gram fold: partials merge exactly; totals past BIGINT raise loudly") {
    import spark.implicits._
    // components at x = 1000 → u = 1e9 micro → adaptive cap =
    // 2^62 / 1e18 = 4 rows per chunk: 8 rows in ONE partition force
    // multiple flushes, and the merged result must equal the exact
    // BigInt fold (diagonal total 8e18 still inside BIGINT)
    def write(dir: String, n: Int, x: Double): Unit =
      spark.createDataset((1 to n).map(i => (i.toLong, Array(x, x))))
        .toDF("vec_id", "embedding").repartition(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ok = tmpDir("gram_chunk_ok")
    write(ok, 8, 1000.0)
    val got = SimilarityQueries.defs.find(_.name == "embedding_gram").get
      .fn(spark, ok).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val cell = 8L * 1000000000L * 1000000000L // 8e18 < 2^63
    assert(got == Map((1L, 1L) -> cell, (1L, 2L) -> cell, (2L, 2L) -> cell), got.toString)

    // two more rows push the exact total to 1e19 > 2^63: the decimal
    // merge must RAISE (matching DuckDB's CAST(HUGEINT AS BIGINT)
    // error), never null or wrap
    val over = tmpDir("gram_chunk_over")
    write(over, 10, 1000.0)
    val ex = intercept[Exception] {
      SimilarityQueries.defs.find(_.name == "embedding_gram").get
        .fn(spark, over).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("rescale the micro unit")), ex.toString)

    // component past the exact-product bound (|x| > 3000): loud reject
    val huge = tmpDir("gram_component_bound")
    write(huge, 1, 5000.0)
    val ex2 = intercept[Exception] {
      SimilarityQueries.defs.find(_.name == "embedding_gram").get
        .fn(spark, huge).collect()
    }
    assert(messages(ex2).exists(_.contains("exact-product bound")), ex2.toString)

    // RAGGED corpus: the dimension is discovered per-partition from the
    // first row (no driver pre-scan), so raggedness must still fail
    // LOUDLY at action time — intra-partition via the per-row require,
    // cross-partition via the in-plan min(d)=max(d) guard. Either way:
    // an exception naming the query, never silent wrong cells.
    val ragged = tmpDir("gram_ragged")
    spark.createDataset(Seq((1L, Array(1.0, 2.0)), (2L, Array(1.0, 2.0, 3.0))))
      .toDF("vec_id", "embedding").repartition(2, col("vec_id"))
      .write.mode("overwrite").parquet(s"$ragged/embeddings.parquet")
    val ex3 = intercept[Exception] {
      SimilarityQueries.defs.find(_.name == "embedding_gram").get
        .fn(spark, ragged).collect()
    }
    assert(messages(ex3).exists(m => m.contains("embedding_gram") &&
      (m.contains("ragged") || m.contains("length"))), ex3.toString)
  }

  /** The query's exact power iteration, recomputed on the driver from
    * a brute-force gram matrix in BigInt — the integer renormalization
    * (floor-divide by the step max onto the 2^20 grid) included. */
  private def driverPca(vecs: Array[Array[Double]], iters: Int)
      : (Map[Long, Long], Long) = {
    val d = vecs.head.length
    val g = Array.ofDim[Long](d, d)
    vecs.foreach { vec =>
      val u = vec.map(x => math.floor(x * 1e6 + 0.5).toLong)
      for (i <- 0 until d; j <- 0 until d) g(i)(j) += u(i) * u(j)
    }
    var v = Array.fill(d)(BigInt(1048576))
    for (_ <- 1 to iters) {
      val p = (0 until d).map(i =>
        (0 until d).map(j => BigInt(g(i)(j)) * v(j)).sum).toArray
      val m = p.map(_.abs).max
      v =
        if (m == 0) Array.fill(d)(BigInt(0))
        else p.map { x =>
          // floor division (BigInt / truncates toward zero)
          val num = x * 1048576
          if (num.sign >= 0) num / m else -((-num + m - 1) / m)
        }
    }
    val vgv = (for (i <- 0 until d; j <- 0 until d)
      yield BigInt(g(i)(j)) * v(i) * v(j)).sum
    val vtv = v.map(x => x * x).sum
    val tr = (0 until d).map(i => BigInt(g(i)(i))).sum
    val share =
      if (vtv == 0 || tr == 0) 0L else ((vgv * 1000000) / (vtv * tr)).toLong
    ((0 until d).map(i => (i + 1).toLong -> v(i).toLong).toMap, share)
  }

  test("embedding_pca_top equals the driver-scale integer power iteration") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("e"))
      .collect().map(_.getSeq[Double](0).toArray)
    val (expV, expShare) = driverPca(vecs, 10)
    val rows = SimilarityQueries.defs.find(_.name == "embedding_pca_top").get
      .fn(spark, dir).collect()
    spark.catalog.clearCache()
    val gotV = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotV == expV,
      s"diff=${gotV.toSet.diff(expV.toSet).take(3)} / ${expV.toSet.diff(gotV.toSet).take(3)}")
    assert(rows.map(_.getLong(2)).distinct.toSeq == Seq(expShare))
    // non-degenerate: the iteration did not collapse to zero
    assert(gotV.values.exists(_ != 0L))
  }

  test("embedding_pca_top recovers a planted dominant direction") {
    import spark.implicits._
    val d = tmpDir("pca_planted")
    val rnd = new scala.util.Random(7)
    // dim 5 (1-based) carries 10x the variance of the isotropic rest
    val rows = (1L to 200L).map { id =>
      val v = Array.fill(8)(rnd.nextGaussian() * 0.05)
      v(4) += (if (rnd.nextBoolean()) 1.0 else -1.0) * 0.9
      (id, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = SimilarityQueries.defs.find(_.name == "embedding_pca_top").get
      .fn(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    spark.catalog.clearCache()
    val top = got.maxBy(t => math.abs(t._2))
    assert(top._1 == 5L, s"dominant dim ${top._1}, expected 5: ${got.toSeq}")
    // the planted axis owns the overwhelming share of variance
    assert(top._3 > 800000L, s"share_micro ${top._3} too low")
    // and the component is pinned to the renormalization grid
    assert(math.abs(top._2) == 1048576L)
  }

  test("embedding_pca_top on an all-zero corpus: every component and the share are 0") {
    import spark.implicits._
    // the degenerate path: G = 0 makes every step's max |p| zero, and
    // only the m = 0 guard stands between the fold and a divide by zero
    val d = tmpDir("pca_zero")
    val vecs = Array.fill(20)(Array.fill(8)(0.0))
    vecs.toSeq.zipWithIndex.map { case (v, id) => (id.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val (expV, expShare) = driverPca(vecs, 10)
    val rows = SimilarityQueries.defs.find(_.name == "embedding_pca_top").get
      .fn(spark, d).collect()
    spark.catalog.clearCache()
    val gotV = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotV == expV, s"$gotV != $expV")
    assert(gotV.size == 8 && gotV.values.forall(_ == 0L), gotV.toString)
    assert(expShare == 0L && rows.forall(_.getLong(2) == 0L), rows.toSeq.toString)
  }

  /** Mathematical floor division for BigInt (BigInt./ truncates). */
  private def bfloor(x: BigInt, m: BigInt): BigInt = {
    val q = x / m
    if (x.sign < 0 && x % m != 0) q - 1 else q
  }

  test("embedding_abtt equals the driver-scale integer correction") {
    val dir = "/root/testdata/sf0.001"
    val rows0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val vecs = rows0.map(_._2)
    val (vMap, _) = driverPca(vecs, 10)
    val d = vecs.head.length
    val v = (0 until d).map(i => BigInt(vMap((i + 1).toLong))).toArray
    val us = rows0.map { case (id, vec) =>
      (id, vec.map(x => math.floor(x * 1e6 + 0.5).toLong))
    }
    val n = us.length
    val mu = (0 until d).map { i =>
      bfloor(us.map(u => BigInt(u._2(i))).sum, n)
    }.toArray
    val vtv = v.map(x => x * x).sum
    val expected = us.map { case (id, u) =>
      val c = (0 until d).map(i => BigInt(u(i)) - mu(i))
      val p = (0 until d).map(i => c(i) * v(i)).sum
      val c2 = c.map(x => x * x).sum
      val resid = if (vtv == 0) c2 else c2 - (p * p) / vtv
      (id, bfloor(p, 1048576).toLong, resid.toLong)
    }.toSet
    val got = SimilarityQueries.defs.find(_.name == "embedding_abtt").get
      .fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spark.catalog.clearCache()
    assert(got.size == expected.size)
    assert(got == expected,
      s"diff=${got.diff(expected).take(3)} / ${expected.diff(got).take(3)}")
    // Cauchy-Schwarz: removing a direction never leaves a negative
    // residual — the integer floor only shrinks the subtracted term
    assert(got.forall(_._3 >= 0L))
  }
}
