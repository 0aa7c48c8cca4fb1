package graft

import graft.queries.DedupQueries
import org.apache.spark.sql.functions._

/** Pins the shared dedup-family mechanisms on planted frames: the
  * arrival-batch split the three incremental queries cut at, and the
  * banded bucket self-join behind MinHash-LSH, SimHash and embedding
  * sign-LSH candidates.
  */
class DedupKernelsSpec extends SparkSuite {

  private def batchOf(ids: Seq[Long]): Set[Long] = {
    import spark.implicits._
    DedupQueries.arrivalTagged(ids.toDF("id"), "id")
      .filter(col("is_batch")).select(col("id")).as[Long].collect().toSet
  }

  test("arrival batch: id·10 = 9·(max+1) is batch, the id below it is corpus") {
    // max 19: 9·20 = 180 = 18·10 exactly
    assert(batchOf(0L to 19L) == Set(18L, 19L))
    // max 29: 9·30 = 270 = 27·10
    assert(batchOf(0L to 29L) == Set(27L, 28L, 29L))
    // max 22: 9·23 = 207 falls between 20·10 and 21·10
    assert(batchOf(0L to 22L) == Set(21L, 22L))
    // gaps: the cut reads max(id), not the row count
    assert(batchOf(Seq(0L, 5L, 17L, 18L, 19L)) == Set(18L, 19L))
  }

  test("arrival batch: dedup_incremental, dedup_semantic_incremental and dedup_bloom_probe cut the same batch") {
    import spark.implicits._
    val d = tmpDir("arrival")
    // ids 0..19: the batch is {18, 19}. Docs 16, 17 and 18 are one text,
    // so 18 (batch) has corpus partners and 17, the corpus id just
    // below the boundary, must never be reported as a batch doc.
    val dup = "the quick brown fox jumps over the lazy dog near the river bank"
    val docs = (0L to 19L).map { i =>
      val text = if (i >= 16L && i <= 18L) dup
        else s"fresh document $i with words ${i * 7} and ${i * 13} only"
      (i, text, "en", "s", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rnd = new scala.util.Random(11)
    (0L to 19L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val batch = batchOf(0L to 19L)
    def run(name: String) = {
      val rows = SparkEntry.queries(name)(spark, d).collect()
      spark.catalog.clearCache()
      rows
    }
    // one verdict row per batch doc / vector
    assert(run("dedup_bloom_probe").map(_.getLong(0)).toSet == batch)
    assert(run("dedup_semantic_incremental").map(_.getLong(0)).toSet == batch)
    // only dropped batch docs: 18 has corpus partners 16 and 17
    val inc = run("dedup_incremental").map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(inc == Map(18L -> "corpus"), inc.toString)
  }

  test("banded bucket join equals a naive pair enumeration: one row per pair, a < b") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val nBands = 3
    // small key range: most pairs share a bucket in some band, many in
    // several; 1000 and 1001 share key VALUES only across bands, which
    // must not pair them
    val rows = (0L until 40L).map(i => (i, Seq.fill(nBands)(rnd.nextInt(6).toLong))) ++
      Seq((1000L, Seq(100L, 101L, 102L)), (1001L, Seq(101L, 102L, 100L)))
    val df = rows.map { case (i, ks) => (i, ks(0), ks(1), ks(2)) }
      .toDF("id", "k0", "k1", "k2")
    val bands = DedupQueries.bandRows(df, Seq(col("id")), "key",
      (0 until nBands).map(b => col(s"k$b")))
    assert(bands.count() == rows.size * nBands)
    val got = DedupQueries.bucketPairs(bands, "id", "key",
        Seq(col("x.id").as("a"), col("y.id").as("b")))
      .as[(Long, Long)].collect().toSeq
    val naive = (for {
      (i, ki) <- rows; (j, kj) <- rows
      if i < j && (0 until nBands).exists(b => ki(b) == kj(b))
    } yield (i, j)).toSet
    assert(got.size == got.toSet.size, "a pair sharing several buckets must appear once")
    assert(got.forall { case (a, b) => a < b })
    assert(got.toSet == naive)
    val shared = (for ((i, ki) <- rows; (j, kj) <- rows if i < j)
      yield (0 until nBands).count(b => ki(b) == kj(b)))
    assert(shared.count(_ > 1) > 0 && shared.count(_ == 0) > 0,
      "the planted frame needs multi-bucket pairs and unpaired ones")
    assert(!got.toSet.contains((1000L, 1001L)))
  }
}
