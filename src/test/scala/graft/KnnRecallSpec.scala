package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-probe k-NN graph recall: `knn_graph` restricts each vector's
  * neighbor search to its own IVF cell, so true nearest neighbors
  * sitting just across a cell boundary are unreachable;
  * `knn_graph_nprobe` probes each source's 2 nearest cells and must
  * recover them. The corpus here is built to be boundary-HEAVY: after
  * the 8 basis-vector centroids, every remaining vector sits near the
  * midpoint between two centroids, tilted just enough that the two
  * members of each planted pair assign to DIFFERENT cells while being
  * each other's true nearest neighbor.
  */
class KnnRecallSpec extends SparkSuite {

  private val K = 3 // KnnGraphK — edges kept per source in both queries

  /** 8-dim corpus: vec_ids 0..7 are the frozen stand-in centroids
    * (basis vectors); then ONE planted straddler pair per centroid
    * boundary (0,1), (2,3), (4,5), (6,7) — ids (8,9), (10,11), (12,13),
    * (14,15). One pair per boundary keeps each straddler's brute top-3
    * at [own centroid ≈0.894, partner ≈0.800, other centroid ≈0.447]:
    * the partner is a TRUE top-3 neighbor that lives in the other cell
    * (more pairs per boundary would plant same-side near-clones at
    * cosine ≈0.9995 that crowd the partner out of top-K). */
  private def writeBoundaryCorpus(dir: String): Unit = {
    import spark.implicits._
    def basis(i: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f); v(i) = 1.0f; v
    }
    def straddler(a: Int, b: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f)
      v(a) = 0.9f; v(b) = 0.45f
      v((a + 4) % 8) = 0.01f // breaks exact ties without moving the cell
      v
    }
    var id = -1L
    def nextId(): Long = { id += 1; id }
    val cents = (0 until 8).map(i => (nextId(), basis(i)))
    val planted = (0 until 4).flatMap { bnd =>
      val (a, b) = (2 * bnd, 2 * bnd + 1)
      // one member leans to centroid a, the other to centroid b; their
      // mutual cosine (≈0.80) makes each the other's top non-centroid
      // neighbor — but they assign to different cells
      Seq((nextId(), straddler(a, b)), (nextId(), straddler(b, a)))
    }
    (cents ++ planted).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Exact top-K edge set (src, dst) by brute-force cosine. */
  private def bruteEdges(dir: String): Set[(Long, Long)] = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        sqrt(aggregate(zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x)).as("nrm"))
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    e.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        (aggregate(zip_with(col("a.embedding"), col("b.embedding"),
          (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def graphEdges(name: String, dir: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, dir)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("nprobe=2 recovers cross-cell neighbors that nprobe=1 structurally cannot") {
    val dir = tmpDir("knn_boundary")
    writeBoundaryCorpus(dir)
    val brute = bruteEdges(dir)
    val single = graphEdges("knn_graph", dir)
    val multi = graphEdges("knn_graph_nprobe", dir)
    spark.catalog.clearCache() // release frozenCells' persists

    val recall1 = (brute & single).size.toDouble / brute.size
    val recall2 = (brute & multi).size.toDouble / brute.size
    // multi-probe candidates are a superset per source, so recall can
    // only improve — and on this corpus it MUST: every planted pair is
    // a cross-cell true-NN edge
    assert(recall2 >= recall1, s"recall2=$recall2 < recall1=$recall1")
    assert(recall2 > recall1,
      s"boundary-heavy corpus must show a strict gain (recall1=$recall1)")
    // the planted straddler pairs themselves: invisible at nprobe=1
    // (different cells), recovered at nprobe=2 (each member probes the
    // partner's cell — its second-nearest centroid by construction)
    val plantedPairs = (8L until 16L by 2L)
      .flatMap(i => Seq((i, i + 1), (i + 1, i))).toSet
    val inBrute = plantedPairs.filter(p => brute.contains(p))
    assert(inBrute.nonEmpty, "construction: planted pairs must be brute-force edges")
    assert(inBrute.forall(p => !single.contains(p)),
      "construction: planted pairs must straddle cells (invisible to knn_graph)")
    assert(inBrute.forall(p => multi.contains(p)),
      s"nprobe=2 must recover all ${inBrute.size} planted cross-cell edges")
  }

  test("knn_graph_nprobe on the real corpus: per-source edge count and ordering hold") {
    val dir = "/root/testdata/sf0.001"
    val edges = SparkEntry.queries("knn_graph_nprobe")(spark, dir)
      .select("src", "dst", "cos", "rank").collect()
    spark.catalog.clearCache()
    val bySrc = edges.groupBy(_.getLong(0))
    assert(bySrc.values.forall(_.length <= K))
    // ranks are 1..n and cosine non-increasing within a source
    bySrc.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a.getDouble(2) >= b.getDouble(2)
        case _ => true
      })
    }
    // multi-probe widens the candidate set, so its edge set must be at
    // least as good per source: every source present in knn_graph is
    // present here (same sources assign, same corpus)
    val single = SparkEntry.queries("knn_graph")(spark, dir)
      .select("src").collect().map(_.getLong(0)).toSet
    spark.catalog.clearCache()
    assert(single.subsetOf(bySrc.keySet))
  }

  test("recall fold: no overlap and a query missing from got both score 0; got-only queries emit no row") {
    import spark.implicits._
    // truth q1 {10, 11}, q2 {20, 21, 22}, q3 {30}; got q1 {10, 99} (one
    // hit), q2 {23, 24} (no overlap), q3 absent, q4 {40} (not in truth).
    // Extra columns on either side (cos, rank) are ignored.
    val truth = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L), (2L, 21L, 2L),
      (2L, 22L, 3L), (3L, 30L, 1L)).toDF("q_id", "n_id", "rank")
    val got = Seq((1L, 10L, 0.9), (1L, 99L, 0.8), (2L, 23L, 0.7), (2L, 24L, 0.6),
      (4L, 40L, 0.5)).toDF("q_id", "n_id", "cos")
    val out = graft.queries.SimilarityQueries.recallAtK(truth, got)
    assert(out.columns.toSeq == Seq("q_id", "k_true", "k_found", "recall_micro"))
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows == Set((1L, 2L, 1L, 500000L), (2L, 3L, 0L, 0L), (3L, 1L, 0L, 0L)))
  }
}
