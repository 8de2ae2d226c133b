package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's main query pipeline (`idu stats compute`,
  * stats.go:115-168 → stats/totals.go:150-209 → report_stats.go):
  * filtered totals, per-user/per-group totals, and bounded top-N
  * rankings — as declarative DataFrame aggregations.
  *
  * Matching semantics replicated exactly (totals.go:150-209):
  *   - a PREFIX (directory) that matches the expression contributes
  *     `prefixes`, its own `size` to `bytes` AND `prefix_bytes`, and
  *     calc(size, blocks) to `storage_bytes`;
  *   - ENTRIES are counted only when their parent prefix matched AND
  *     the entry itself matches: child dirs → `sub_prefixes`; duplicate
  *     hardlinks → `hardlinks` (bytes NOT added); files → `files`,
  *     `bytes`, `storage_bytes`.
  *
  * Hardlink canonicalization: the reference counts the first
  * (device, inode) seen during an UNORDERED concurrent scan — which
  * link survives is nondeterministic (SURVEY.md §2.3 J4). We define
  * the canonical link as the lexicographically-least path, computed
  * with one window — a documented, deterministic improvement.
  *
  * Scale: one semi-join of entries against matched prefixes (broadcast
  * when the matched-prefix set is small, shuffle otherwise — left to
  * AQE), then ONE partial+final hash aggregation onto the
  * `(prefix, uid, gid)` cube ([[Computed]]); totals, per-id and
  * per-prefix frames are rollups of the cube. No collect, no driver
  * state; top-N compiles to TakeOrderedAndProject.
  */
object Stats {

  /** One expression's stats state: the CUBE — the seven metrics
    * (`prefixes` … `storage_bytes`) summed per `(prefix, uid, gid)`,
    * one row per key with at least one contribution row. Every other
    * stats frame is a rollup of the cube, defined here once; each
    * keeps the key columns first, then the seven metrics. Like the
    * reference's single `AllStats` value (stats.go:31-82), the cube is
    * what [[StatsArtifact]] persists and what [[computeIncremental]]
    * merges into. */
  final case class Computed(cube: DataFrame) {
    /** single row: global totals (reference Totals struct,
      * totals.go:17-27); all zeros over an empty cube */
    lazy val totals: DataFrame = rollup()
    /** one row per uid */
    lazy val perUser: DataFrame = rollup("uid")
    /** one row per gid */
    lazy val perGroup: DataFrame = rollup("gid")
    /** one row per prefix (input to rankings; reference computes these
      * per-prefix folds as heap inputs, report_stats.go:231-245) */
    lazy val perPrefix: DataFrame = rollup("prefix")
    /** one row per (uid, prefix) — feeds the per-user report file
      * trees (reference PerIDStats, report_stats.go:34-39, consumed
      * by writeReportFiles, reports.go:128-229) */
    lazy val perUserPrefix: DataFrame = rollup("uid", "prefix")
    /** one row per (gid, prefix) */
    lazy val perGroupPrefix: DataFrame = rollup("gid", "prefix")

    private def rollup(keys: String*): DataFrame = {
      val sums = metricNames.map(m => zsum(col(m)).as(m))
      cube.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
    }
  }

  private val cubeKey: Seq[String] = Seq("prefix", "uid", "gid")

  // sum() over zero rows is NULL in SQL; the reference's zero-value
  // Totals struct means empty must aggregate to 0 (totals.go:17-27).
  private def zsum(c: Column): Column = coalesce(sum(c), lit(0L))

  /** (metric name, per-contrib-row value) — every stats metric is a
    * conditional SUM, i.e. an abelian-group aggregate: the property
    * [[computeIncremental]]'s add/subtract merge relies on. */
  private val aggSpecs: Seq[(String, Column)] = Seq(
    "prefixes" -> when(col("is_prefix_row"), 1L).otherwise(0L),
    "sub_prefixes" -> when(!col("is_prefix_row") && col("is_dir"), 1L).otherwise(0L),
    "files" -> when(!col("is_prefix_row") && !col("is_dir") && col("is_canonical"), 1L).otherwise(0L),
    "hardlinks" -> when(!col("is_prefix_row") && !col("is_dir") && !col("is_canonical"), 1L).otherwise(0L),
    "bytes" -> when(col("is_prefix_row") || (!col("is_dir") && col("is_canonical")), col("size")).otherwise(0L),
    "prefix_bytes" -> when(col("is_prefix_row"), col("size")).otherwise(0L),
    "storage_bytes" -> when(col("is_prefix_row") || (!col("is_dir") && col("is_canonical")), col("storage")).otherwise(0L))

  private val metricNames: Seq[String] = aggSpecs.map(_._1)

  private val aggCols: Seq[Column] =
    aggSpecs.map { case (n, e) => zsum(e).as(n) }

  /** [[aggCols]] with every term multiplied by the row's `sign`
    * column — the ±1 delta aggregation of [[computeIncremental]]. */
  private val signedAggCols: Seq[Column] =
    aggSpecs.map { case (n, e) => zsum(e * col("sign")).as(n) }

  /** Compute the stats cube for one expression over the fact table:
    * one aggregate of the contribution rows on `(prefix, uid, gid)`,
    * materialized eagerly (`localCheckpoint`) so every rollup and the
    * artifact write read the small cube instead of re-running the
    * contribution plan over the snapshot.
    *
    * @param files the FileEntry fact table (see graft.model.FileEntry)
    * @param prefixMatch predicate applied to directory rows (the
    *   reference's `Matcher.Prefix`)
    * @param entryMatch predicate applied to entry rows (the reference's
    *   `Matcher.Entry`); pass `lit(true)` for match-all
    * @param countHardlinkDupsAsFiles reference config
    *   `CountHardlinkAsFiles` (stats.go:126): when true, every link
    *   counts bytes; when false only the canonical link does
    */
  def compute(
      files: DataFrame,
      prefixMatch: Column = lit(true),
      entryMatch: Column = lit(true),
      calc: Calculator = Calculator.Identity,
      countHardlinkDupsAsFiles: Boolean = false): Computed =
    Computed(contribOf(files, prefixMatch, entryMatch, calc,
        countHardlinkDupsAsFiles, onlyPrefixes = None)
      .groupBy(cubeKey.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      .localCheckpoint(true))

  /** The per-contribution-row frame every stats aggregate sums over.
    * `onlyPrefixes` (a one-column `prefix` frame) restricts matched
    * prefixes to the given set AFTER hardlink canonicality is decided
    * over the FULL input — the restriction the incremental path needs
    * (canonical choice must not depend on which prefixes changed). */
  private def contribOf(
      files: DataFrame,
      prefixMatch: Column,
      entryMatch: Column,
      calc: Calculator,
      countHardlinkDupsAsFiles: Boolean,
      onlyPrefixes: Option[DataFrame]): DataFrame = {

    // Canonical-hardlink flag: first (device, inode) by path order.
    // Only the nlink > 1 slice (typically ≪1% of rows) pays the
    // (device, inode) shuffle for the window; everything else is
    // canonical by definition and goes around it.
    val withCanon =
      if (countHardlinkDupsAsFiles) files.withColumn("is_canonical", lit(true))
      else {
        val linkRank = row_number().over(
          Window.partitionBy(col("device"), col("inode")).orderBy(col("path")))
        val multi = files.where(col("nlink") > 1)
          .withColumn("is_canonical", linkRank === 1)
        val single = files.where(col("nlink") <= 1 || col("nlink").isNull)
          .withColumn("is_canonical", lit(true))
        single.unionByName(multi)
      }

    // Matched prefixes (dir rows passing prefixMatch), optionally
    // restricted to the changed set.
    val matchedAll = withCanon
      .where(col("is_dir") && prefixMatch)
      .select(col("path").as("prefix_path"))
    val matchedPrefixes = onlyPrefixes match {
      case Some(p) => matchedAll.join(
        p.select(col("prefix").as("prefix_path")), Seq("prefix_path"),
        "left_semi")
      case None => matchedAll
    }

    // The prefix's own contribution rows (the restricted path pays
    // the semi-join; the full path keeps the plain filter).
    val prefixDirs = withCanon.where(col("is_dir") && prefixMatch)
    val prefixRows = (onlyPrefixes match {
      case Some(_) => prefixDirs.join(
        matchedPrefixes.withColumnRenamed("prefix_path", "path"),
        Seq("path"), "left_semi")
      case None => prefixDirs
    }).withColumn("is_prefix_row", lit(true))
      .withColumn("prefix", col("path"))

    // Entry rows: any row whose parent is a matched prefix and which
    // itself passes entryMatch (dirs count as sub_prefixes).
    val entryRows = withCanon
      .where(entryMatch)
      .join(matchedPrefixes, col("parent") === col("prefix_path"), "left_semi")
      .withColumn("is_prefix_row", lit(false))
      .withColumn("prefix", col("parent"))

    prefixRows.unionByName(entryRows)
      .withColumn("storage", calc(col("size"), col("blocks")))
      .select(col("prefix"), col("uid"), col("gid"), col("is_prefix_row"),
        col("is_dir"), col("is_canonical"), col("size"), col("storage"))
  }

  /** The §2.8 changed-prefix set between two snapshots: dir rows
    * added, deleted, or with differing (mod_time, mode, n_entries) —
    * the same POSIX contract the incremental WALKER relies on (an
    * unchanged dir implies an unchanged child list,
    * ingest/Incremental.scala), so any entry-row difference implies
    * its parent appears here. One full-outer join of the two dir
    * slices. @return a one-column `prefix` frame. */
  def changedPrefixesOf(prevFiles: DataFrame, files: DataFrame): DataFrame = {
    def dirs(f: DataFrame, tag: String) = f.where(col("is_dir"))
      .select(col("path").as("prefix"),
        struct(col("mod_time"), col("mode"), col("n_entries"))
          .as(s"__sig_$tag"))
    dirs(prevFiles, "a").join(dirs(files, "b"), Seq("prefix"), "full_outer")
      .where(col("__sig_a").isNull || col("__sig_b").isNull ||
        col("__sig_a") =!= col("__sig_b"))
      .select(col("prefix"))
  }

  /** Incremental `stats compute` (reference contract analyze.go:
    * 226-243 applied to the STATS layer, SURVEY.md §2.8): merge the
    * previous cube with recomputed contributions for the CHANGED
    * prefixes only — the base table's unchanged prefixes are never
    * re-aggregated. Every metric is a conditional SUM ([[aggSpecs]]),
    * so the merge is exact:
    * `new_cube = prev_cube − contrib_old(changed) + contrib_new(changed)`,
    * one ±1-signed aggregate on the cube key plus one full-outer merge
    * join (using-columns coalesce the keys). A key whose contributions
    * all vanished is dropped: every contribution row adds 1 to exactly
    * one of `prefixes`, `sub_prefixes`, `files`, `hardlinks`, so their
    * sum is the key's row count.
    *
    * Hardlink exactness: with `countHardlinkDupsAsFiles = false` the
    * canonical link of a (device, inode) group can FLIP to a link in
    * an UNCHANGED prefix when a changed prefix's link disappears, so
    * the changed set auto-expands with every prefix holding a link of
    * a group that any changed prefix touches (two semi-joins over the
    * nlink > 1 sliver). Canonicality itself is always decided over
    * the FULL snapshot, exactly as [[compute]] does.
    *
    * Scale shape: one dir-slice full-outer join (changed-set
    * discovery is the caller's if it has walker `reused` flags —
    * [[changedPrefixesOf]] otherwise), two restricted contrib scans
    * bounded by the changed prefixes' entry rows, one delta aggregate
    * on those rows alone, one merge join with the previous cube. An
    * unchanged-corpus rescan aggregates zero contrib rows. The result
    * is NOT materialized: its callers write or read it once. */
  def computeIncremental(
      prev: Computed,
      prevFiles: DataFrame,
      files: DataFrame,
      changedPrefixes: DataFrame,
      prefixMatch: Column = lit(true),
      entryMatch: Column = lit(true),
      calc: Calculator = Calculator.Identity,
      countHardlinkDupsAsFiles: Boolean = false): Computed = {
    // hardlink-group expansion (see scaladoc). The result is
    // CHECKPOINTED (r13): it is consumed by BOTH restricted contrib
    // scans, and inside each the matched-prefix semi-join subtree is
    // referenced twice (prefix rows + entry rows) — un-materialized,
    // the full-outer dir join + expansion joins re-executed up to 4×
    // inside the delta job. The frame is one column of changed
    // prefixes (tiny by the incremental contract), so the
    // materialization job is cheap.
    val changed = (
      if (countHardlinkDupsAsFiles) changedPrefixes
      else {
        val multi = prevFiles.where(col("nlink") > 1)
          .unionByName(files.where(col("nlink") > 1))
          .select(col("parent"), col("device"), col("inode"))
        val touched = multi.join(
          changedPrefixes.select(col("prefix").as("parent")),
          Seq("parent"), "left_semi")
          .select(col("device"), col("inode")).distinct()
        val extra = multi.join(touched, Seq("device", "inode"), "left_semi")
          .select(col("parent").as("prefix"))
        changedPrefixes.unionByName(extra).distinct()
      }).localCheckpoint(true)
    val oldC = contribOf(prevFiles, prefixMatch, entryMatch, calc,
      countHardlinkDupsAsFiles, Some(changed)).withColumn("sign", lit(-1L))
    val newC = contribOf(files, prefixMatch, entryMatch, calc,
      countHardlinkDupsAsFiles, Some(changed)).withColumn("sign", lit(1L))
    val delta = newC.unionByName(oldC)
      .groupBy(cubeKey.map(col): _*).agg(signedAggCols.head, signedAggCols.tail: _*)
      .select(cubeKey.map(col) ++ metricNames.map(m => col(m).as(s"__d_$m")): _*)
    Computed(prev.cube.join(delta, cubeKey, "full_outer")
      .select(cubeKey.map(col) ++ metricNames.map(m =>
        (coalesce(col(m), lit(0L)) + coalesce(col(s"__d_$m"), lit(0L))).as(m)): _*)
      .where(col("prefixes") + col("sub_prefixes") +
        col("files") + col("hardlinks") > 0))
  }

  /** K1/K2: top-N prefixes by one metric (reference heap.MinMax
    * PushMaxN) — TakeOrderedAndProject, not a global sort. */
  def topPrefixes(perPrefix: DataFrame, metric: String, n: Int): DataFrame =
    perPrefix.orderBy(desc(metric), asc("prefix")).limit(n)

  /** K2: the reference's five ranked metrics in one pass over the
    * already-aggregated per-prefix frame. */
  val rankedMetrics: Seq[String] =
    Seq("bytes", "storage_bytes", "prefix_bytes", "files", "prefixes")

  /** K3: top-N prefixes for EACH uid (reference PerIDStats,
    * report_stats.go:34-39,169-182) — window per id, no global sort. */
  def topPrefixesPerId(files: DataFrame, idCol: String, metric: String,
      n: Int, calc: Calculator = Calculator.Identity): DataFrame = {
    val perIdPrefix = files
      .where(!col("is_dir"))
      .withColumn("storage", calc(col("size"), col("blocks")))
      .groupBy(col(idCol), col("parent").as("prefix"))
      .agg(count(lit(1)).as("files"), sum(col("size")).as("bytes"),
        sum(col("storage")).as("storage_bytes"))
    val w = Window.partitionBy(col(idCol)).orderBy(desc(metric), asc("prefix"))
    perIdPrefix.withColumn("rk", row_number().over(w)).where(col("rk") <= n)
  }

  /** K4: top-N users/groups overall by a metric. */
  def topIds(perId: DataFrame, idCol: String, metric: String, n: Int): DataFrame =
    perId.orderBy(desc(metric), asc(idCol)).limit(n)
}
