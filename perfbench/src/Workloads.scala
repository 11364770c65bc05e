package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.operators.GraphOps2
import graft.ops.Dedup.NearDupIndex
import graft.sources.Versioned

/** What one closed-loop call returns: its rows (every column and row of
  * the complete result, in the result's own order), their schema, and how
  * long building the query took before its action ran. */
final case class Result(rows: Array[Row], schema: StructType, buildNs: Long)

final case class Step(name: String, kind: String, run: () => Result)

/** A workload: the calls of one pass, in the pass's (seeded) order, and
  * the named outputs the correctness check compares after the run. */
trait Workload {
  def queries: Seq[String]
  def pass(index: Int): Seq[Step]
  /** Outputs to write for the DuckDB check: name -> result. */
  def checkOutputs: Seq[(String, Result)]
}

object Workloads {
  /** Every `Stride`-th query of the warehouse modules, in module order: a
    * systematic sample (12 of 96 queries) whose pass fits the run. */
  val Stride = 8

  def warehouse: Seq[String] = {
    import graft.operators._
    Seq(Relational.all, Relational2.all, Analytics.all, Analytics2.all, Scoring.all,
      Stats.all, Events.all, Events2.all, LoaderOps.all, AsofJoin.all, Intervals.all,
      Repair.all, IngestOps.all, ProvenanceOps.all, SchemaDrift.all, CboDemo.all)
      .flatten.map(_.name).zipWithIndex.collect { case (q, i) if i % Stride == 0 => q }
  }

  def apply(name: String, spark: SparkSession, data: String, load: String,
            work: String, seed: Long): Workload = name match {
    case "warehouse" => new QueryWorkload(spark, data, warehouse, seed)
    case "load_commit" => new LoadCommit(spark, load, work)
    case _ => sys.error(s"unknown workload $name")
  }
}

/** Runs each query through the engine's query registry, `SparkEntry.queries`,
  * and consumes its complete result with `collect`. */
final class QueryWorkload(spark: SparkSession, data: String, val queries: Seq[String],
                          seed: Long) extends Workload {
  private val fns = SparkEntry.queries
  private val first = scala.collection.mutable.LinkedHashMap.empty[String, Result]

  def pass(index: Int): Seq[Step] = {
    val rnd = new scala.util.Random(seed * 1000003L + index)
    rnd.shuffle(queries).map { q =>
      Step(q, "query", () => {
        val t0 = System.nanoTime()
        val df = fns(q)(spark, data)
        val built = System.nanoTime() - t0
        val r = Result(df.collect(), df.schema, built)
        if (!first.contains(q)) first(q) = r
        r
      })
    }
  }

  def checkOutputs: Seq[(String, Result)] =
    first.toSeq.filter { case (q, _) => SparkEntry.oracleSql.contains(q) }
}

/** Loader batches through the public sinks. Each pass starts from empty
  * sink directories and replays the same seeded batches:
  *  - lineitem rows are committed with `Versioned.commit`: the base, then
  *    an upsert batch carrying updates, inserts and soft deletes, followed
  *    by a `readVersion` aggregate; after the document batches, `vacuum`
  *    keeping `VacuumKeep` versions deletes the base version's partitions,
  *    which the upsert rewrote, then a full read of the final snapshot;
  *  - documents: `NearDupIndex.build` over the base documents, then per
  *    batch a `query` against the index, an `append` of the batch, and a
  *    fold of the batch's new pairs into the component labels with
  *    `GraphOps2.incrementalComponents`; from the second batch on, the
  *    fold starts from the labels the earlier batches left. */
final class LoadCommit(spark: SparkSession, load: String, work: String) extends Workload {
  val VacuumKeep = 1
  private val lineBase = spark.read.parquet(s"$load/line_base.parquet")
  private val lineBatch = spark.read.parquet(s"$load/line_batch.parquet")
  private val docBase = spark.read.parquet(s"$load/doc_base.parquet")
  private val docBatches = Iterator.from(1)
    .map(i => new java.io.File(s"$load/doc_batch_$i.parquet"))
    .takeWhile(_.exists).map(f => spark.read.parquet(f.getPath)).toSeq
  private val outputs = scala.collection.mutable.LinkedHashMap.empty[String, Result]

  def queries: Seq[String] = pass(0).map(_.name)

  private def done(rows: Row*): Result = Result(rows.toArray, new StructType(), 0L)

  private def collected(df: DataFrame): Result = Result(df.collect(), df.schema, 0L)

  def pass(index: Int): Seq[Step] = {
    val root = s"$work/sinks/p$index"
    val table = s"$root/line"
    val docIndex = s"$root/docs"
    var labels = spark.emptyDataFrame.selectExpr("CAST(NULL AS BIGINT) AS node",
      "CAST(NULL AS BIGINT) AS lbl").limit(0)
    val pairs = scala.collection.mutable.ArrayBuffer.empty[Row]
    def keep(name: String, r: Result): Result = {
      if (index == 0) outputs(name) = r
      r
    }
    def latest = Versioned.readVersion(spark, table, Versioned.latestVersion(spark, table))
      .filter(!col("deleted"))
    def commit(name: String, delta: DataFrame) = Step(name, "commit", () =>
      done(Row(Versioned.commit(spark, table, delta, "bucket", "lkey", "ver"))))
    def docs(b: Int, batch: DataFrame): Seq[Step] = {
      var fresh: Array[Row] = Array.empty
      var schema: StructType = null
      Seq(
        Step(s"doc_query_$b", "index_query", () => {
          val r = collected(NearDupIndex.query(spark, docIndex, batch))
          fresh = r.rows
          schema = r.schema
          pairs ++= r.rows
          keep("doc_pairs", Result(pairs.toArray, r.schema, 0L))
          r
        }),
        Step(s"doc_append_$b", "index_append", () => {
          NearDupIndex.append(spark, docIndex, batch); done()
        }),
        Step(s"doc_fold_$b", "fold", () => {
          val edges = r2df(fresh.toSeq, schema)
            .select(col("id_a").as("src"), col("id_b").as("dst"))
          val r = collected(GraphOps2.incrementalComponents(labels, edges))
          labels = r2df(r.rows.toSeq, r.schema)
          keep("doc_labels", r)
        }))
    }
    Seq(commit("line_commit_base", lineBase),
      Step("doc_build", "index_build", () => { NearDupIndex.build(docBase, docIndex); done() }),
      commit("line_commit", lineBatch),
      Step("line_read", "read", () =>
        keep("line_read", collected(latest.groupBy("bucket")
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"),
            max("l_extendedprice").as("max_price")))))) ++
      docBatches.zipWithIndex.flatMap { case (batch, i) => docs(i + 1, batch) } ++
      Seq(Step("line_vacuum", "vacuum", () => {
          Versioned.vacuum(spark, table, VacuumKeep); done()
        }),
        Step("line_snapshot", "read", () => keep("line_snapshot", collected(latest))))
  }

  private def r2df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def checkOutputs: Seq[(String, Result)] = outputs.toSeq
}
