package graft.cli.perfbench

import java.io.RandomAccessFile
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.expr.FileOperands
import graft.ids.IdMaps
import graft.ingest.{Incremental, ResumableWalk, Snapshot, Walker}
import graft.model.ScanError
import graft.reports.Reports
import graft.stats.{Stats, StatsArtifact}

/** idu's user path on a generated tree. Set-up is the first scan into
  * the database. A pass then runs, for the benchmark expression, the
  * full `stats compute` path, a root-scoped ordered `find`,
  * `stats view --user` and the `reports` tree; applies the next round of
  * the mutation cycle to the tree; and picks it up with an incremental
  * rescan and an incremental stats update. Every snapshot,
  * ChangeSummary, stats total and find listing is checked against the
  * generator's manifest. */
final class FsScan(input: Path, work: Path) extends Workload {
  private val manifest = Driver.readJson(input.resolve("manifest.json"))
  private val root = manifest.get("root").asText
  private val excludes = Seq(manifest.get("exclude").asText)
  private val uid = manifest.get("uid").asLong
  private val expr = manifest.get("expr").asText
  private val findRoot = manifest.get("find_root").asText
  private val nRounds = manifest.get("rounds").size
  private val mainDb = work.resolve("fsdb").toString
  private val n = 10
  private val statCols = Seq("prefixes", "sub_prefixes", "files", "hardlinks",
    "bytes", "prefix_bytes", "storage_bytes")

  private def longs(n: JsonNode): Map[String, Long] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  private def state(i: Int): Map[String, Long] = longs(manifest.get("stats").get(i))

  private def applyOps(ops: JsonNode): Unit =
    ops.elements().asScala.foreach { op =>
      val p = Path.of(root, op.get(1).asText)
      def setLength(n: Long): Unit = {
        val f = new RandomAccessFile(p.toFile, "rw")
        try f.setLength(n) finally f.close()
      }
      op.get(0).asText match {
        case "add" | "resize" => setLength(op.get(2).asLong) // sparse
        case "delete" => Files.delete(p)
        case "mkdir" => Files.createDirectory(p)
        case "rmdir" => Driver.deleteTree(p)
      }
    }

  private def diff(what: String, got: Map[String, Long],
      want: Map[String, Long]): Seq[String] =
    want.toSeq.sortBy(_._1).collect {
      case (k, v) if !got.get(k).contains(v) => s"$what.$k: got ${got.get(k)}, want $v"
    }

  /** Snapshot contents in the manifest's terms: dirs, canonical files,
    * extra hardlinks, file bytes (one per inode), entries; one job. */
  private def checkSnapshot(r: Runner, db: String, i: Int): Seq[String] = {
    val perInode = Snapshot.readFiles(r.spark, db)
      .groupBy(col("is_dir"), col("device"), col("inode"))
      .agg(count(lit(1)).as("links"), first(col("size")).as("size"),
        sum(when(col("uid") =!= uid, 1L).otherwise(0L)).as("foreign"))
    def total(c: org.apache.spark.sql.Column) = coalesce(sum(c), lit(0L))
    val t = perInode.agg(total(when(col("is_dir"), col("links"))),
      total(col("links")), total(col("foreign")),
      total(when(!col("is_dir"), 1L)), total(when(!col("is_dir"), col("links"))),
      total(when(!col("is_dir"), col("size")))).collect()(0)
    val got = Map("dirs" -> t.getLong(0), "entries" -> t.getLong(1),
      "foreign_uid" -> t.getLong(2), "files" -> t.getLong(3),
      "hardlinks" -> (t.getLong(4) - t.getLong(3)), "file_bytes" -> t.getLong(5))
    val want = state(i).filter { case (k, _) => got.contains(k) } + ("foreign_uid" -> 0L)
    val errs = Snapshot.readErrors(r.spark, db).count()
    diff(s"snapshot[$i]", got, want) ++
      (if (errs != 0) Seq(s"snapshot[$i]: $errs scan errors") else Nil)
  }

  /** Stats totals for the benchmark expression (`type=d || name=*.log`):
    * every dir is a matched prefix and the `.log` files are its
    * entries. Dir sizes depend on the filesystem, so file bytes are
    * checked as bytes - prefix_bytes. One uid owns every entry, so the
    * per-user row equals the totals. */
  private def checkTotals(what: String, totals: Row, users: Seq[Row],
      i: Int): Seq[String] = {
    val t = statCols.map(c => c -> totals.getAs[Long](c)).toMap
    val s = state(i)
    diff(what, Map("prefixes" -> t("prefixes"), "sub_prefixes" -> t("sub_prefixes"),
      "files" -> t("files"), "hardlinks" -> t("hardlinks"),
      "file_bytes" -> (t("bytes") - t("prefix_bytes"))),
      Map("prefixes" -> s("dirs"), "sub_prefixes" -> (s("dirs") - 1),
        "files" -> s("log_files"), "hardlinks" -> s("log_hardlinks"),
        "file_bytes" -> s("log_bytes"))) ++
      (if (users.size == 1 && users.head.getAs[Long]("uid") == uid &&
          statCols.forall(c => users.head.getAs[Long](c) == t(c))) Nil
       else Seq(s"$what: per-user rows ${users.mkString(",")}"))
  }

  private def snapshotBytes(db: String): Long = {
    val dir = Path.of(db, "snapshots", Snapshot.latestName(db).get, "files")
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
  }

  /** Collect a bounded frame and render it the way the CLI does. */
  private def render(r: Runner, df: DataFrame, title: String): Array[Row] = {
    val rows = df.collect()
    Reports.markdown(r.spark.createDataFrame(rows.toList.asJava, df.schema), title)
    rows
  }

  /** A first scan (Main.firstScan's composition) into a fresh `db`,
    * checked against the manifest's first tree state. */
  def load(r: Runner): Unit = {
    val db = mainDb
    Driver.deleteTree(Path.of(db))
    r.op("analyze", "first_scan") {
      val frontier = Path.of(db, "_frontier").toString
      val out = r.spans("ingest.walk") {
        ResumableWalk.walk(r.spark, root, frontier, exclusions = excludes)
      }
      val res = Walker.Result(out.records)
      res.records.cache()
      r.spans("ingest.snapshot_write") {
        Snapshot.write(db, res.entries.toDF(), res.errors.toDF())
      }
      ResumableWalk.clear(frontier)
      out.complete
    } { complete =>
      r.spark.catalog.clearCache()
      val entries = state(0)("entries")
      r.note("ingest.snapshot_bytes_per_entry", snapshotBytes(db).toDouble / entries)
      r.note("op.analyze_entries", entries.toDouble)
      (if (complete) Nil else Seq("walk incomplete")) ++ checkSnapshot(r, db, 0)
    }
  }

  def pass(r: Runner, k: Int): Unit = {
    val spark = r.spark
    import spark.implicits._
    val i = (k - 1) % nRounds
    val next = (i + 1) % nRounds

    r.op("stats_compute", expr) {
      val files = Snapshot.readFiles(spark, mainDb)
      val m = r.spans("expr.compile") { FileOperands().compile(expr) }
      val c = r.spans("stats.compute") {
        Stats.compute(files, prefixMatch = m, entryMatch = m)
      }
      r.spans("stats.artifact_write") { StatsArtifact.write(mainDb, c, "/", expr) }
      r.spans("stats.render") {
        val totals = render(r, c.totals, s"Totals for '$expr'")
        Stats.rankedMetrics.foreach { metric =>
          render(r, Stats.topPrefixes(c.perPrefix, metric, n), s"Top $n by $metric")
        }
        val users = render(r, c.perUser.orderBy(desc("bytes")).limit(n), "Usage by user")
        render(r, c.perGroup.orderBy(desc("bytes")).limit(n), "Usage by group")
        (totals(0), users.toSeq)
      }
    } { case (totals, users) => checkTotals("stats_compute", totals, users, i) }

    r.op("find", expr) {
      val files = Snapshot.readFiles(spark, mainDb)
      val m = r.spans("expr.compile") { FileOperands().compile(expr) }
      r.spans("cli.find") {
        val md5 = MessageDigest.getInstance("MD5")
        var count = 0L
        graft.cli.Main.findFrame(files, Some(findRoot), m)
          .toLocalIterator().forEachRemaining { row =>
            if (count > 0) md5.update('\n'.toByte)
            md5.update(row.getString(0).getBytes("UTF-8"))
            count += 1
          }
        (count, md5.digest().map("%02x".format(_)).mkString)
      }
    } { case (count, hex) =>
      val want = manifest.get("find").get(i)
      diff("find", Map("count" -> count), Map("count" -> want.get("count").asLong)) ++
        (if (hex == want.get("md5").asText) Nil else Seq(s"find md5 $hex"))
    }

    r.op("stats_view", s"user=$uid") {
      r.spans("cli.stats_view") {
        val c = StatsArtifact.read(spark, mainDb)
        val user = render(r, c.perUser.where(col("uid") === uid), s"Totals for user $uid")
        render(r, c.perUserPrefix.where(col("uid") === uid)
          .orderBy(desc("bytes"), asc("prefix")).limit(n).drop("uid"),
          s"Top $n prefixes for user $uid")
        user.toSeq
      }
    } { user =>
      val totals = StatsArtifact.read(spark, mainDb).totals.collect()(0)
      checkTotals("stats_view", totals, user, i)
    }

    val reportDir = work.resolve(s"reports-$k")
    r.op("report", "tree") {
      val c = r.spans("reports.artifact_read") { StatsArtifact.read(spark, mainDb) }
      r.spans("reports.tree") {
        graft.cli.Main.writeReportTree(c, reportDir, n, IdMaps.empty)
      }
    } { _ =>
      val got = Driver.json.readTree(Files.readString(reportDir.resolve("totals.json")))
      val t = statCols.map(c => c -> got.get(c).asLong).toMap
      Driver.deleteTree(reportDir)
      diff("report", Map("prefixes" -> t("prefixes"), "files" -> t("files"),
        "file_bytes" -> (t("bytes") - t("prefix_bytes"))),
        Map("prefixes" -> state(i)("dirs"), "files" -> state(i)("log_files"),
          "file_bytes" -> state(i)("log_bytes")))
    }

    applyOps(manifest.get("rounds").get(i))
    val prevName = Snapshot.latestName(mainDb).get
    r.op("rescan", s"round${i + 1}") {
      val prev = Snapshot.readFiles(spark, mainDb)
      val res = r.spans("ingest.rescan") {
        Incremental.rescan(spark, root, prev, excludes)
      }
      r.spans("ingest.snapshot_write") {
        Snapshot.write(mainDb, res.entries, Seq.empty[ScanError].toDF())
      }
      res.summary
    } { s =>
      spark.catalog.clearCache()
      val got = Map("prefixes_unchanged" -> s.prefixes_unchanged,
        "prefixes_changed" -> s.prefixes_changed,
        "prefixes_added" -> s.prefixes_added,
        "prefixes_deleted" -> s.prefixes_deleted,
        "files_rescanned" -> s.files_rescanned,
        "files_reused" -> s.files_reused, "files_deleted" -> s.files_deleted)
      val dirs = s.prefixes_unchanged + s.prefixes_changed + s.prefixes_added
      r.note("ingest.dirs_reused_frac", s.prefixes_unchanged.toDouble / dirs)
      // the prefixes Stats.changedPrefixesOf must hand the stats update
      r.note("stats.changed_prefixes",
        (s.prefixes_changed + s.prefixes_added + s.prefixes_deleted).toDouble)
      r.note("ingest.files_reused_frac",
        s.files_reused.toDouble / (s.files_reused + s.files_rescanned))
      diff(s"summary[round${i + 1}]", got, longs(manifest.get("summaries").get(i))) ++
        checkSnapshot(r, mainDb, next)
    }

    r.op("stats_incr", s"round${i + 1}") {
      val prevFiles = Snapshot.readFiles(spark, mainDb, Some(prevName))
      val files = Snapshot.readFiles(spark, mainDb)
      val prev = StatsArtifact.read(spark, mainDb)
      val m = r.spans("expr.compile") { FileOperands().compile(expr) }
      val changed = Stats.changedPrefixesOf(prevFiles, files)
      val c = r.spans("stats.incr") {
        Stats.computeIncremental(prev, prevFiles, files, changed,
          prefixMatch = m, entryMatch = m)
      }
      r.spans("stats.artifact_write") { StatsArtifact.write(mainDb, c, "/", expr) }
    } { _ =>
      spark.catalog.clearCache()
      val c = StatsArtifact.read(spark, mainDb)
      checkTotals(s"stats_incr", c.totals.collect()(0), c.perUser.collect().toSeq, next)
    }
  }
}
