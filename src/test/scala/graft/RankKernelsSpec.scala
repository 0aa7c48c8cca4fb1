package graft

import graft.queries.ProfilingQueries
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contract tests for the ranking kernels in ProfilingQueries:
  * `bucketedRank` must equal the naive single-window `row_number`,
  * `topK` a naive per-key sort-and-take, and `shardedTopK` the naive
  * per-key top-k, on planted and generated frames that hit their edge
  * cases. */
class RankKernelsSpec extends SparkSuite {

  test("bucketedRank equals the naive row_number window: grouped, global, descending, edge ties, one-bucket group") {
    import spark.implicits._
    // bucket = v div 10. Group a: ties at 9 and 10 sit on both sides of
    // the 0|1 bucket edge and ties at 19/20 on the 1|2 edge; group b:
    // sparse values over five buckets; group c: every row in bucket 3.
    val a = Seq(9, 9, 9, 10, 10, 10, 3, 15, 19, 19, 20, 20, 27, 0, 10, 9)
    val b = Seq(5, 41, 12, 33, 33, 27, 8)
    val c = Seq(31, 35, 35, 30, 39, 31)
    val rows = (a.map("a" -> _) ++ b.map("b" -> _) ++ c.map("c" -> _))
      .zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v.toLong) }
    val df = rows.toDF("id", "g", "v").withColumn("bkt", expr("v div 10"))
    assert(df.filter(col("g") === "c").select("bkt").distinct().count() == 1)

    def check(groups: Seq[String], order: Seq[org.apache.spark.sql.Column],
        descending: Boolean): Unit = {
      val got = ProfilingQueries.bucketedRank(df, groups, "bkt", order,
          descending = descending, withTotal = true)
        .select(col("id"), col("rnk"), col("n"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val byGroup = Window.partitionBy(groups.map(col): _*)
      val want = df
        .select(col("id"),
          row_number().over(byGroup.orderBy(order: _*)).cast("long").as("rnk"),
          count(lit(1)).over(byGroup).as("n"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == want, s"groups=$groups descending=$descending")
    }
    check(Seq("g"), Seq(col("v"), col("id")), descending = false)
    check(Nil, Seq(col("v"), col("id")), descending = false)
    check(Seq("g"), Seq(col("v").desc, col("id")), descending = true)
    check(Nil, Seq(col("v").desc, col("id").desc), descending = true)
  }

  test("topK equals a naive per-key sort-and-take: ascending, descending, tiebreak, k above the group, two-column key") {
    import spark.implicits._
    // pqCodes' shape: per (vec_id, j) the codeword c_id with the least
    // distance d, ties to the lower c_id. Few distinct d values, so the
    // tiebreak decides often; vec_id 9 has two rows, fewer than most k.
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 150).map(i => (rnd.nextInt(4).toLong, rnd.nextInt(3).toLong,
          i.toLong, rnd.nextInt(5).toDouble)) ++
        Seq((9L, 0L, 1000L, 1.0), (9L, 1L, 1001L, 1.0))
      val df = rows.toDF("vec_id", "j", "c_id", "d")
      for (keys <- Seq(Seq("vec_id"), Seq("vec_id", "j")); desc <- Seq(false, true);
           k <- Seq(1, 3, 60)) {
        val order = Seq(if (desc) col("d").desc else col("d"), col("c_id"))
        val got = ProfilingQueries.topK(df, keys, order, k)
        assert(got.schema("rank").dataType == org.apache.spark.sql.types.LongType)
        val gotRows = got.select(col("vec_id"), col("j"), col("c_id"), col("rank"))
          .as[(Long, Long, Long, Long)].collect().sorted.toSeq
        val keyOf = (r: (Long, Long, Long, Double)) =>
          if (keys.size == 1) (r._1, 0L) else (r._1, r._2)
        val want = rows.groupBy(keyOf).values.toSeq.flatMap { rs =>
          rs.sortBy(r => (if (desc) -r._4 else r._4, r._3)).take(k).zipWithIndex
            .map { case (r, i) => (r._1, r._2, r._3, i + 1L) }
        }.sorted
        assert(gotRows == want, s"seed=$seed keys=$keys desc=$desc k=$k")
      }
    }
  }

  test("shardedTopK equals one per-key window: k above the group, one shard, more shards than rows") {
    import spark.implicits._
    val shardOf = spark.range(0, 400).select(col("id").as("doc_id"),
        ProfilingQueries.shardCol(16).as("shard"))
      .as[(Long, Long)].collect().toSeq
    val oneShard = shardOf.filter(_._2 == shardOf.head._2).map(_._1).take(12)
    // key a: 60 docs over all shards, scores with heavy ties (doc_id
    // breaks them); key b: 3 docs, fewer than both k and the 16 shards;
    // key c: 12 docs that all hash to ONE shard
    val rows = (0L until 60L).map(d => ("a", d, d % 7)) ++
      Seq(("b", 100L, 5L), ("b", 101L, 5L), ("b", 102L, 9L)) ++
      oneShard.map(d => ("c", d, d % 3))
    val df = rows.toDF("key", "doc_id", "score")
    val k = 5
    val order = Seq(col("score").desc, col("doc_id"))
    val got = ProfilingQueries.shardedTopK(df, "key", order, k, df)
      .select(col("key"), col("doc_id"), col("rank"))
      .as[(String, Long, Long)].collect().sorted.toSeq
    val want = df
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("key")).orderBy(order: _*)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("key"), col("doc_id"), col("rank"))
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(got == want)
    assert(got.count(_._1 == "b") == 3) // k above the group keeps it whole
    assert(got.count(_._1 == "c") == k)
    // the planted shapes hold: key a spans many shards, key c one
    val shards = ProfilingQueries.shardedTopK(df, "key", order, 100, df)
      .groupBy(col("key")).agg(countDistinct(col("shard")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(shards("a") > 1 && shards("c") == 1, shards)
  }
}
