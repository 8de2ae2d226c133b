package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.ScanError

/** Incremental re-scan (reference analyze.go:226-243,313-331,383-424,
  * SURVEY.md §2.8): a prefix whose (mod_time, mode) is unchanged since
  * the previous snapshot reuses its stored FILE rows — only
  * directories are re-statted, skipping the per-file lstat fan-out
  * that dominates scan cost (reference README.md:13-15).
  *
  * Plan shape — one walk, one merged snapshot, one summary aggregate:
  *   1. walk the tree statting DIRS always; under unchanged dirs the
  *      walker neither lists nor stats children (POSIX dir mtime
  *      changes whenever a child is created/renamed/deleted, so an
  *      unchanged dir implies an unchanged child list — the contract
  *      the reference relies on, prefixinfo.go:110-116). The walk is
  *      cached and materialized once, by the job that pins its error
  *      rows;
  *   2. the merged snapshot is the walk's rows plus the previous
  *      snapshot's file rows under reused dirs (one semi-join, no
  *      filesystem I/O), every row tagged with the walker's `reused`
  *      flag. It is materialized once and the walk's cache released;
  *      deletions need no purge — vanished subtrees simply don't
  *      appear (the reference's DeletePrefix exists because it
  *      mutates a KV store);
  *   3. the [[ChangeSummary]] is one conditional-sum aggregate over a
  *      full-outer join on `path` of the previous snapshot
  *      (path, is_dir) with the merged one (path, is_dir, reused): a
  *      null side means the path is absent from that snapshot.
  *
  * The previous snapshot's dir metadata never moves through the
  * driver: the walker keys each dir row by its seed-ancestor path and
  * shuffles per-seed slices directly to the walking tasks — at 10⁹
  * files / ~10⁷ dirs each task holds only its own subtree's index
  * (see Walker.walk's prevDirs path).
  */
object Incremental {

  final case class ChangeSummary(
      prefixes_unchanged: Long,
      prefixes_changed: Long,
      prefixes_added: Long,
      prefixes_deleted: Long,
      files_rescanned: Long,
      files_reused: Long,
      files_deleted: Long)

  final case class Result(entries: DataFrame, summary: ChangeSummary,
      errors: Dataset[ScanError])

  /** The previous snapshot's dir rows in the walker's DirMeta shape —
    * stays a DataFrame; the walker ships per-seed slices of it to
    * executors (no driver collect of the full index). */
  private def prevDirFrame(prev: DataFrame): DataFrame =
    prev.where(col("is_dir"))
      .select(col("path"), col("parent"),
        unix_millis(col("mod_time")).as("mt_ms"),
        col("mode"), col("n_entries"))

  /** Re-scan `root` against the previous snapshot's entries. */
  def rescan(spark: SparkSession, root: String, prev: DataFrame,
      exclusions: Seq[String] = Nil, seedDepth: Int = 2): Result = {
    val walk = Walker.walk(spark, root, exclusions, seedDepth,
      prevDirs = Some(prevDirFrame(prev)))
    walk.records.cache()
    val errors = walk.errors.localCheckpoint()
    val walked = walk.entriesWithReuse

    // Reused dirs take their file rows from the previous snapshot.
    val reusedFiles = prev.where(!col("is_dir"))
      .join(walked.where(col("reused")).select(col("path").as("parent")),
        Seq("parent"), "left_semi")
      .withColumn("reused", lit(true))
      .select(walked.columns.toIndexedSeq.map(col): _*)
    val merged = walked.union(reusedFiles).localCheckpoint()
    walk.records.unpersist()

    // A side is null where the path is absent from that snapshot.
    def present(c: Column): Column = coalesce(c, lit(false))
    val (curDir, curFile) = (present(col("cur_dir")), present(!col("cur_dir")))
    val (prevDir, prevFile) = (present(col("prev_dir")), present(!col("prev_dir")))
    val reused = present(col("reused"))
    val s = prev.select(col("path"), col("is_dir").as("prev_dir"))
      .join(merged.select(col("path"), col("is_dir").as("cur_dir"), col("reused")),
        Seq("path"), "full_outer")
      .agg(count_if(curDir && reused), count_if(curDir && !reused && prevDir),
        count_if(curDir && !prevDir), count_if(prevDir && !curDir),
        count_if(curFile && !reused), count_if(curFile && reused),
        count_if(prevFile && !curFile))
      .collect()(0)
    Result(merged.drop("reused"), ChangeSummary(s.getLong(0), s.getLong(1),
      s.getLong(2), s.getLong(3), s.getLong(4), s.getLong(5), s.getLong(6)),
      errors)
  }
}
