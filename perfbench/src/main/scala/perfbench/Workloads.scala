package perfbench

import graft.SparkEntry
import graft.core.{JoinSpec, Pipeline, PipelineStatus}
import graft.operators.Transformers.{KeyRename, KeyUnset, Replace}
import graft.sinks.{CsvSink, JsonlSink, NoOpSink, ParquetSink, Sink}
import graft.sources.{CallableSource, CsvSource, JsonlSource, ParquetSource, Source}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** What an item sees: the session, the input tables, its scratch dir,
  * and the tracer when the pass is traced. Sources and sinks go through
  * [[src]] / [[sink]], which time them in a traced pass and hand them
  * back unchanged otherwise. */
final class Ctx(val spark: SparkSession, val data: String, val scratch: String,
    val tracer: Option[Tracer], val group: String) {
  def table(t: String): String = s"$data/$t.parquet"
  def out(name: String): String = s"$scratch/sinks/$name"

  def src(s: Source): Source = tracer.fold(s) { t =>
    CallableSource(sp => t.span("source.load")(s.load(sp)))
  }

  def sink(s: Sink): Sink = tracer.fold(s) { t =>
    new Sink { def write(df: DataFrame): Unit = t.span("sink.write")(s.write(df)) }
  }

  /** A phase of the item (construct / execute / exec), run under its own
    * job group `<item group>/<phase>` when traced. */
  def phase[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name, Some(s"$group/$name"))(body))
}

/** One unit of work: `run` is what a timed pass measures; `verify`
  * produces the item's outputs under `outDir/<output>/` as parquet for
  * the digest check (flows read their sinks back through the matching
  * graft Source first). `sinkDirs` are the flow's sink outputs. */
final case class Item(name: String, family: String,
    run: Ctx => Unit,
    verify: (Ctx, String) => Unit,
    sinkDirs: Seq[String] = Nil)

object Workloads {

  private def save(df: DataFrame, dir: String): Unit =
    df.repartition(1).write.mode(SaveMode.Overwrite).parquet(dir)

  private def exec(c: Ctx, p: Pipeline): Unit = {
    val report = c.phase("exec")(p.exec(c.spark))
    report.status match {
      case PipelineStatus.Clean     => ()
      case PipelineStatus.Failed(e) => throw e
      case other                    => throw new IllegalStateException(s"flow ended $other")
    }
  }

  def query(name: String, family: String): Item = Item(name, family,
    run = c => {
      val df = c.phase("construct")(SparkEntry.queries(name)(c.spark, c.data))
      c.phase("execute")(NoOpSink.write(df))
    },
    verify = (c, out) => save(SparkEntry.queries(name)(c.spark, c.data), s"$out/result"))

  /** A flow item: `build` wires the Pipeline(s); `readBack` maps each
    * sink output name to the graft Source that reads it back. */
  private def flow(name: String, outputs: Seq[String],
      readBack: (Ctx, String) => Source)(build: Ctx => Seq[Pipeline]): Item =
    Item(name, "flow",
      run = c => build(c).foreach(exec(c, _)),
      verify = (c, out) => {
        build(c).foreach(exec(c, _))
        outputs.foreach(o => save(readBack(c, o).load(c.spark), s"$out/$o"))
      },
      sinkDirs = outputs)

  private val parquetBack = (c: Ctx, o: String) => ParquetSource(c.out(o))

  val flows: Seq[Item] = Seq(
    // lineitem ⋈ orders (inner) ⋈ customer (left, defaults) → qualify →
    // rename / unset / replace → parquet
    flow("flow_join_qualify", Seq("f1"), parquetBack) { c =>
      Seq(Pipeline.from(c.src(ParquetSource(c.table("lineitem"))))
        .join(JoinSpec(c.src(ParquetSource(c.table("orders"))), "l_orderkey", "o_orderkey",
          rightCols = Some(Seq("o_custkey", "o_orderstatus", "o_totalprice"))))
        .join(JoinSpec(c.src(ParquetSource(c.table("customer"))), "o_custkey", "c_custkey",
          leftJoin = true, defaults = Map("c_mktsegment" -> "UNKNOWN"),
          rightCols = Some(Seq("c_name", "c_mktsegment"))))
        .qualify(col("l_quantity") >= 45.0 && col("l_discount") <= 0.05)
        .transform(KeyRename(Map("l_extendedprice" -> "price", "c_mktsegment" -> "segment")))
        .transform(KeyUnset(Seq("l_tax", "l_shipdate", "l_returnflag", "l_linestatus")))
        .transform(Replace(defaults = Map("c_name" -> "anonymous"), overrides = Map("flow" -> "f1")))
        .to(c.sink(ParquetSink(c.out("f1")))))
    },
    // orders ⋈ customer, fanned out (persisted head) to three formats
    flow("flow_fanout", Seq("f2_csv", "f2_jsonl", "f2_parquet"), (c, o) => o match {
      case "f2_csv"   => CsvSource(c.out(o), multiLine = false)
      case "f2_jsonl" => JsonlSource(c.out(o))
      case _          => ParquetSource(c.out(o))
    }) { c =>
      Seq(Pipeline.from(c.src(ParquetSource(c.table("orders"))))
        .qualify(col("o_orderpriority") === "1-URGENT")
        .join(JoinSpec(c.src(ParquetSource(c.table("customer"))), "o_custkey", "c_custkey",
          rightCols = Some(Seq("c_name", "c_nationkey"))))
        .transform(KeyUnset(Seq("o_orderdate", "o_totalprice")))
        .branch(_.qualify(col("o_orderstatus") === "F")
          .to(c.sink(CsvSink(c.out("f2_csv"), sep = ";", writeBom = true, writeSepLine = true))))
        .branch(_.qualify(col("o_orderstatus") === "O").to(c.sink(JsonlSink(c.out("f2_jsonl")))))
        .branch(_.to(c.sink(ParquetSink(c.out("f2_parquet"))))))
    },
    // ordered concat of four lineitem shards
    flow("flow_ordered_concat", Seq("f3"), parquetBack) { c =>
      def shard(k: Int) = c.src(CallableSource(sp => sp.read.parquet(c.table("lineitem"))
        .where(col("l_linenumber") === k && col("l_quantity") <= 5.0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")))
      Seq((2 to 4).foldLeft(Pipeline().ordered().from(shard(1)))((p, k) => p.from(shard(k), aggregate = true))
        .to(c.sink(ParquetSink(c.out("f3")))))
    },
    // limit/offset/orderedBy pagination through orders, one exec per page
    flow("flow_paginate", Seq("f4"), parquetBack) { c =>
      (0 until 4).map { p =>
        Pipeline.from(c.src(ParquetSource(c.table("orders"), limit = Some(20000L),
            offset = p * 20000L, orderedBy = Seq("o_orderkey"))))
          .transform(KeyUnset(Seq("o_orderdate")))
          .to(c.sink(ParquetSink(c.out("f4"),
            mode = if (p == 0) SaveMode.Overwrite else SaveMode.Append)))
      }
    },
    // durable (checkpointed) fan-out with a root interrupt that never fires
    flow("flow_durable_break", Seq("f5_all", "f5_p", "f5_tail"), (c, o) =>
      if (o == "f5_p") JsonlSource(c.out(o)) else ParquetSource(c.out(o))) { c =>
      Seq(Pipeline().durable().from(c.src(ParquetSource(c.table("orders"))))
        .transform(KeyUnset(Seq("o_orderdate")))
        .qualify(col("o_totalprice") > 300000.0)
        .to(c.sink(ParquetSink(c.out("f5_all"))))
        .branch(_.qualify(col("o_orderstatus") === "P")
          .interruptRootOn(col("o_totalprice") < 0.0)
          .to(c.sink(JsonlSink(c.out("f5_p")))))
        .transform(KeyUnset(Seq("o_orderpriority")))
        .to(c.sink(ParquetSink(c.out("f5_tail")))))
    }
  )

  private def family(f: String, names: String*): Seq[Item] = names.map(query(_, f))

  /** The whole query board (70 items) and the curation chains, run only
    * by survey.py to measure per-item times; never by a benchmark run. */
  val survey: Seq[Item] =
    family("tpch", graft.queries.TpchQueries.defs.map(_.name): _*) ++
      family("relational", graft.queries.RelationalQueries.defs.map(_.name): _*) ++
      family("events", graft.queries.EventQueries.defs.map(_.name): _*) ++
      family("dedup", "dedup_minhash_lsh", "dedup_setsim_prefix", "dedup_lsh_eval",
        "dedup_canonical", "corpus_cleaned", "contamination_check") ++
      family("text", "bpe_merges", "bpe_encode", "vocab_top_p", "inverted_index")

  /** Ten of the 70 board queries, picked by survey.py's SELECTION rule
    * from measured per-item times (perfbench/survey.json): one item per
    * tenth of the board's time distribution, so the subset's mean and
    * quartiles follow the board's. All three as-of-plan items are in. */
  val queryBoard: Seq[Item] =
    family("tpch", "tpch_q10", "tpch_q8") ++
      family("relational", "limit_offset", "cross_apply", "join_chained") ++
      family("events", "asof_plan_node", "asof_plan_forward", "rate_mosum",
        "users_cumulative", "pit_feature_join")

  /** Items that run on the custom as-of plan node. */
  val asOfPlanItems: Set[String] = Set("asof_plan_node", "asof_plan_forward", "pit_feature_join")

  val all: Map[String, Seq[Item]] =
    Map("etl_flow" -> flows, "query_board" -> queryBoard, "survey" -> survey)
}
