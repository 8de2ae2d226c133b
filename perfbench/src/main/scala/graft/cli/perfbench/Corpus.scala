package graft.cli.perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.cli.Main

/** The training-data surface: one `pipeline` run (jsonl-sink, 8 shards,
  * budget = docs/2, with verify), then ten canon queries once each.
  * Query answers are checked against the DuckDB oracle once per
  * invocation, outside the timed region. */
final class Corpus(input: Path, work: Path) extends Workload {
  /** Oracle-backed canon queries; q_agg_totals is the control. */
  val canon: Seq[String] = Seq("q_hits", "q_triangles", "q_pagerank",
    "q_link_predict", "q_near_dup_prefix", "q_tfidf", "q_bm25", "q_dimsum",
    "q_profile", "q_agg_totals")
  private val dir = input.toString
  private var nDocs = 0L

  def load(r: Runner): Unit =
    nDocs = Seq("orders", "lineitem", "documents")
      .map(t => graft.Tables.table(r.spark, dir, t).count()).last

  private val oracleDir = work.resolve("oracle")

  /** Every pass runs the pipeline and each canon query once; a query
    * materializes its answer on the driver, as the CLI does before
    * printing. The first pass also writes each answer, untimed, for the
    * DuckDB oracle check (the way Verify and tools/compare.py do it). */
  def pass(r: Runner, k: Int): Unit = {
    val spark = r.spark
    val out = work.resolve(s"pipeline-$k")
    r.op("pipeline", "jsonl-sink") {
      r.spans("cli.pipeline") {
        Main.pipelineRun(spark, dir, out.toString, nShards = 8,
          format = "jsonl-sink", budget = math.max(1L, nDocs / 2))
      }
    } { res =>
      res.stageSecs.foreach { case (stage, s) => r.note(s"pipeline.${stage}_s", s) }
      r.note("pipeline.keep_frac", res.nSelected.toDouble / res.nInput)
      val exported = res.shards.map(_.rows).sum
      Driver.deleteTree(out)
      (if (res.badShards.isEmpty) Nil else Seq(s"bad shards ${res.badShards}")) ++
        (if (exported == res.nSelected) Nil
         else Seq(s"exported $exported rows, selected ${res.nSelected}"))
    }
    canon.foreach { q =>
      r.op("query", q) {
        r.spans(s"queries.$q") {
          val df = SparkEntry.queries(q)(spark, dir)
          (df.collect(), df.schema)
        }
      } { case (rows, schema) =>
        r.note(s"query.$q.rows", rows.length.toDouble)
        if (k == 1)
          spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
            .write.parquet(oracleDir.resolve(q).toString)
        Nil
      }
    }
  }

  override def finish(r: Runner): Map[String, Any] =
    Map("oracle_dir" -> oracleDir.toString,
      "oracle_sql" -> canon.map(q => q -> SparkEntry.oracleSql(q)).toMap)
}
