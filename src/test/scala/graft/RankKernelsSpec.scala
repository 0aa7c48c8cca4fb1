package graft

import graft.queries.ProfilingQueries
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contract tests for the two ranking kernels in ProfilingQueries:
  * `bucketedRank` must equal the naive single-window `row_number`, and
  * `shardedTopK` must equal the naive per-key top-k, on planted frames
  * that hit their edge cases. */
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
