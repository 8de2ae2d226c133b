package graft.stats

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.FileEntry

/** The persisted stats artifact: one cube table plus `meta.json`.
  * Reading it back must serve every view exactly as the in-memory
  * compute does, and must be a valid base for an incremental update. */
class StatsArtifactSpec extends SparkSpec {

  private val T0 = new Timestamp(1700000000000L)
  private val T1 = new Timestamp(1700000111000L)

  private def fe(path: String, isDir: Boolean, size: Long, uid: Long,
      gid: Long, inode: Long = 0, nlink: Long = 1, nEntries: Long = 0,
      mt: Timestamp = T0): FileEntry = {
    val name = path.split("/").last
    val parent = path.split("/").dropRight(1).mkString("/")
    FileEntry(path, parent, name, path.count(_ == '/'), isDir, size,
      size / 512 + 1, Integer.parseInt("700", 8), mt, uid, gid, 1L,
      if (inode == 0) path.hashCode.toLong & 0xffffffffL else inode,
      nlink, nEntries)
  }

  /** /a (two uids, one hardlink group shared with /b), /b, /b/sub. */
  private lazy val prevDf: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      fe("/a", isDir = true, 10, 1, 1, nEntries = 3),
      fe("/a/x", isDir = false, 100, 1, 1),
      fe("/a/y", isDir = false, 200, 2, 1),
      fe("/a/h", isDir = false, 50, 1, 2, inode = 9, nlink = 2),
      fe("/b", isDir = true, 10, 2, 2, nEntries = 2),
      fe("/b/h", isDir = false, 50, 2, 2, inode = 9, nlink = 2),
      fe("/b/sub", isDir = true, 10, 2, 2, nEntries = 1),
      fe("/b/sub/z", isDir = false, 300, 3, 3)
    ).toDF()
  }

  /** /a loses its hardlink (canonical flips to /b/h) and gains a uid-4
    * file; /b/sub is gone. */
  private lazy val newDf: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      fe("/a", isDir = true, 10, 1, 1, nEntries = 3, mt = T1),
      fe("/a/x", isDir = false, 100, 1, 1),
      fe("/a/y", isDir = false, 200, 2, 1),
      fe("/a/w", isDir = false, 700, 4, 1, mt = T1),
      fe("/b", isDir = true, 10, 2, 2, nEntries = 1, mt = T1),
      fe("/b/h", isDir = false, 50, 2, 2, inode = 9, nlink = 2)
    ).toDF()
  }

  private def views(c: Stats.Computed): Seq[(String, DataFrame)] = Seq(
    "totals" -> c.totals, "perUser" -> c.perUser, "perGroup" -> c.perGroup,
    "perPrefix" -> c.perPrefix, "perUserPrefix" -> c.perUserPrefix,
    "perGroupPrefix" -> c.perGroupPrefix)

  private def assertSameViews(a: Stats.Computed, b: Stats.Computed): Unit =
    views(a).zip(views(b)).foreach { case ((name, x), (_, y)) =>
      assert(x.columns.toSeq == y.columns.toSeq, name)
      assert(x.collect().map(_.toSeq).toSet == y.collect().map(_.toSeq).toSet, name)
    }

  private def newBase(): String = Files.createTempDirectory("graft-artifact").toString

  test("write -> read serves the same six views as compute") {
    val base = newBase()
    val c = Stats.compute(prevDf)
    val name = StatsArtifact.write(base, c, "/", "type=f")
    assert(StatsArtifact.latestName(base).contains(name))
    assert(Files.isDirectory(Paths.get(base, "stats", name, "cube")))
    val back = StatsArtifact.read(spark, base)
    assertSameViews(back, c)
    assert(c.perUser.columns.toSeq == Seq("uid", "prefixes", "sub_prefixes",
      "files", "hardlinks", "bytes", "prefix_bytes", "storage_bytes"))
    assert(c.perGroupPrefix.columns.take(2).toSeq == Seq("gid", "prefix"))

    // an expression matching nothing: an empty cube, totals all zeros
    val none = Stats.compute(prevDf, prefixMatch = lit(false))
    val emptyBase = newBase()
    StatsArtifact.write(emptyBase, none, "/", "false")
    Seq(none, StatsArtifact.read(spark, emptyBase)).foreach { e =>
      assert(e.cube.count() == 0L)
      val t = e.totals.collect()
      assert(t.length == 1 && t(0).toSeq.forall(_ == 0L), t.toSeq)
    }
  }

  test("computeIncremental from a read-back artifact == full recompute") {
    val base = newBase()
    StatsArtifact.write(base, Stats.compute(prevDf), "/", "")
    val prev = StatsArtifact.read(spark, base)
    val inc = Stats.computeIncremental(prev, prevDf, newDf,
      Stats.changedPrefixesOf(prevDf, newDf))
    val full = Stats.compute(newDf)
    assertSameViews(inc, full)
    // uid 3 owned only /b/sub: its cube rows vanish
    assert(inc.perUser.where(col("uid") === 3).count() == 0L)
    // and the merged state round-trips through the artifact again
    StatsArtifact.write(base, inc, "/", "")
    assertSameViews(StatsArtifact.read(spark, base), full)
  }

  test("an artifact without the cube table fails naming its directory") {
    val base = newBase()
    val name = StatsArtifact.write(base, Stats.compute(prevDf), "/", "")
    val dir = Paths.get(base, "stats", name)
    val cube = dir.resolve("cube")
    Files.walk(cube).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    val e = intercept[IllegalArgumentException](StatsArtifact.read(spark, base))
    assert(e.getMessage.contains(dir.toString), e.getMessage)
    assert(e.getMessage.contains("stats compute"), e.getMessage)
  }

  test("meta.json escapes quotes, backslashes and newlines") {
    val base = newBase()
    val expr = "name=\"a\\b\"\n||\ttype=d"
    val name = StatsArtifact.write(base, Stats.compute(prevDf), "/p\"q", expr)
    val meta = new ObjectMapper().readTree(
      Paths.get(base, "stats", name, "meta.json").toFile)
    assert(meta.get("expression").asText == expr)
    assert(meta.get("prefix").asText == "/p\"q")
    assert(meta.get("date").asText == name)
  }
}
