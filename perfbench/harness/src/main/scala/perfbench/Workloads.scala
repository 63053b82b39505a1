package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.{IdempotencyLedger, Pipeline, RunLedger}
import graft.sinks.BatchWriter

import Harness.{OpRec, secs}

/** A benchmark workload: a set-up that can be repeated and a pass of
  * operations that is repeated. */
trait Workload {
  def setup(round: Int): Unit
  def pass(p: Int, trace: Option[Trace]): Seq[OpRec]
  /** Untimed, right after the last pass: leaves that pass's outputs where
    * the outside checks read them. */
  def verify(): Seq[OpRec]
  /** Drops what the pass kept for `verify`, before the heap is collected. */
  def release(): Unit = ()
  def facts: Map[String, Any]
}

object Workload {
  val SetupRounds = 3

  /** Runs `f` with the op/phase tags the trace attributes jobs by. */
  def tagged[T](spark: SparkSession, trace: Option[Trace], p: Int, op: String,
                phase: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", op)
    sc.setLocalProperty("perfbench.phase", phase)
    try trace match {
      case Some(t) => t.span(s"$op.$phase", s"pass.$p")(f)
      case None    => f
    } finally {
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.phase", null)
    }
  }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

/** Queries of `SparkEntry.queries`, each built and then run into the noop
  * sink, as graft's Bench does. A pass keeps the DataFrames it built until
  * `release`, so that `verify` can write the last pass's results as
  * parquet under `work/verify`. */
final class LlmQueries(spark: SparkSession, data: String, work: String,
                       names: Seq[String]) extends Workload {
  private var counted = Map.empty[String, Long]
  private var built = Seq.empty[(String, DataFrame)]

  /** Reads and counts every input. */
  def setup(round: Int): Unit =
    counted = Seq("documents", "embeddings")
      .map(t => t -> graft.sources.Ingestor.table(spark, data, t).count()).toMap

  def pass(p: Int, trace: Option[Trace]): Seq[OpRec] = names.map { q =>
    var df: DataFrame = null
    var err = ""
    val b = secs(try Workload.tagged(spark, trace, p, q, "build") {
      df = SparkEntry.queries(q)(spark, data)
    } catch { case e: Throwable => err = Workload.message(e) })
    val a = if (err.nonEmpty) 0.0 else secs(try Workload.tagged(spark, trace, p, q, "action") {
      df.write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable => err = Workload.message(e) })
    if (err.isEmpty) built :+= q -> df
    OpRec(q, b, a, err, Map.empty)
  }

  def verify(): Seq[OpRec] = built.map { case (q, df) =>
    var err = ""
    val a = secs(try df.write.parquet(s"$work/verify/$q")
      catch { case e: Throwable => err = Workload.message(e) })
    OpRec(q, 0.0, a, err, Map.empty)
  }

  override def release(): Unit = built = Nil

  def facts: Map[String, Any] = Map("rows" -> counted)
}

/** The reference platform's path: JSON specs through `Pipeline.runJson`
  * with an idempotency ledger and a run ledger. Every spec differs per
  * pass (a `batch` literal or an output path), so none is skipped, except
  * the pass's deliberate replay of its first spec, which must be. The
  * passes' own writes are what the checks read, so there is nothing more
  * to verify. */
final class Etl(spark: SparkSession, data: String, work: String) extends Workload {
  private val out = s"$work/out"
  private val idem = new IdempotencyLedger(s"$work/ledger/idempotency")
  private val runs = new RunLedger(s"$work/ledger/runs")
  private def table(round: Int) = s"$work/stage/$round/orders_tbl"
  private val ordersTbl = table(Workload.SetupRounds - 1)
  private var counted = Map.empty[String, Long]

  Pipeline.codeRegistry.register("perfbench_events_daily", 1, (df: DataFrame) =>
    df.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"),
        countDistinct(col("user_id")).as("users")))

  /** Reads and counts every input and stages the base table of the upserts. */
  def setup(round: Int): Unit = {
    counted = Seq("lineitem", "orders", "events", "documents")
      .map(t => t -> spark.read.parquet(s"$data/$t.parquet").count()).toMap
    BatchWriter.write(spark.read.parquet(s"$data/orders.parquet"), table(round),
      BatchWriter.Replace)
  }

  def specs(p: Int): Seq[(String, String)] = Seq(
    "lineitem_rollup" -> s"""{
      "ingestion": {"path": "$data/lineitem.parquet", "format": "parquet",
        "columns": ["l_returnflag", "l_linestatus", "l_quantity",
                    "l_extendedprice", "l_discount", "l_shipdate"],
        "predicate": "l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'"},
      "transformation": [{"type": "config", "config": {
        "filter": {"l_discount": {"<=": 0.08}},
        "rename": {"l_returnflag": "flag", "l_linestatus": "status"},
        "add_columns": {"revenue": "l_extendedprice * (1 - l_discount)", "batch": $p},
        "transformations": [{"type": "apply", "column": "flag", "function": "lower"}],
        "aggregations": {"group_by": ["flag", "status", "batch"],
          "aggregate": {"n": "COUNT(*)", "q": "SUM(l_quantity)",
                        "r": "SUM(revenue)", "m": "AVG(l_extendedprice)"}}}}],
      "persistence": {"path": "$out/lineitem_rollup", "strategy": "replace"}}""",
    "orders_rank" -> s"""{
      "ingestion": {"path": "$data/orders.parquet", "format": "parquet",
        "columns": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]},
      "transformation": [{"type": "sql", "query":
        "SELECT o_custkey, o_orderkey, o_totalprice, rk, $p AS batch FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM input_data WHERE o_orderstatus <> 'P') WHERE rk <= 2"}],
      "persistence": {"path": "$out/orders_rank", "strategy": "replace"}}""",
    "events_daily" -> s"""{
      "ingestion": {"path": "$data/events.parquet", "format": "parquet"},
      "transformation": [{"type": "code", "name": "perfbench_events_daily"},
                         {"type": "config", "config": {"add_columns": {"batch": $p}}}],
      "persistence": {"path": "$out/events_daily", "strategy": "append"}}""",
    "docs_prep" -> s"""{
      "ingestion": {"path": "$data/documents.parquet", "format": "parquet",
        "columns": ["doc_id", "source", "text"]},
      "transformation": [{"type": "training_prep", "spec": {
        "quality": {"min_score": 0.35}, "dedup": {"method": "exact"},
        "redact": {}, "split": {"fractions": {"train": 0.8, "val": 0.1}}}}],
      "persistence": {"path": "$out/docs_prep_$p", "strategy": "insert"}}""",
    "orders_upsert" -> s"""{
      "ingestion": {"path": "$data/orders.parquet", "format": "parquet",
        "predicate": "o_orderkey % 10 = ${p % 10}"},
      "transformation": [{"type": "sql", "query":
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + ${p + 1} AS o_totalprice, o_orderdate, o_orderpriority FROM input_data"}],
      "persistence": {"path": "$ordersTbl", "strategy": "upsert", "keys": ["o_orderkey"]}}""")

  def pass(p: Int, trace: Option[Trace]): Seq[OpRec] = {
    val all = specs(p)
    val ran = all.map { case (name, json) => run(p, trace, name, json, replay = false) }
    ran :+ run(p, trace, "replay", all.head._2, replay = true)
  }

  private def run(p: Int, trace: Option[Trace], name: String, json: String,
                  replay: Boolean): OpRec = {
    var err = ""
    var extra = Map.empty[String, Double]
    val before = if (replay) listing(new File(s"$out/lineitem_rollup")) else Nil
    val s = secs(try Workload.tagged(spark, trace, p, name, "run") {
      val r = Pipeline.runJson(spark, json, Some(idem), Some(runs), name)
      val w = r.writeStats
      extra = Map(
        "skipped" -> (if (r.skippedIdempotent) 1.0 else 0.0),
        "rows_written" -> w.map(_.rowsWritten.toDouble).getOrElse(0.0)) ++
        w.filter(_.strategy == "Upsert").map(x =>
          "rewrite_ratio" -> x.rowsWritten.toDouble / (x.rowsInserted + x.rowsUpdated))
      if (replay != r.skippedIdempotent)
        err = s"skipped=${r.skippedIdempotent} on a ${if (replay) "replayed" else "new"} spec"
    } catch { case e: Throwable => err = Workload.message(e) })
    if (replay && err.isEmpty && listing(new File(s"$out/lineitem_rollup")) != before)
      err = "the skipped replay changed its output"
    OpRec(name, s, 0.0, err, extra)
  }

  def verify(): Seq[OpRec] = Nil

  private def listing(dir: File): Seq[(String, Long, Long)] =
    Option(dir.listFiles).toSeq.flatten.map(f => (f.getName, f.length, f.lastModified)).sorted

  def facts: Map[String, Any] = Map("rows" -> counted, "out" -> out,
    "orders_tbl" -> ordersTbl)
}
