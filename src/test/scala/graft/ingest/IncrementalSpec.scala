package graft.ingest

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import graft.SparkSpec

/** Port of the reference's 4-phase incremental contract
  * (analyze_test.go:259-337, FIXTURES.md §1): fresh scan → no-op
  * rescan (everything unchanged) → additions → deletions, with exact
  * counter expectations, plus the invariant that an incremental
  * snapshot always equals a fresh full walk of the same tree.
  */
class IncrementalSpec extends SparkSpec {

  /** depth 2, breadth 2, 3 files per dir; old mtimes so touches are
    * detectable (FS mtime granularity). */
  private def buildTree(): Path = {
    val root = Files.createTempDirectory("graft-incr")
    val t0 = FileTime.fromMillis(1700000000000L)
    def mk(dir: Path, level: Int): Unit = {
      for (i <- 0 until 3)
        Files.write(dir.resolve(s"f$level-$i"), ("y" * (i + 1)).getBytes)
      if (level < 2) {
        for (i <- 0 until 2) {
          val d = dir.resolve(s"d$level-$i")
          Files.createDirectory(d)
          mk(d, level + 1)
        }
      }
      // set dir mtime AFTER children exist, to a stable old value
      Files.list(dir).forEach(p => if (!Files.isDirectory(p)) Files.setLastModifiedTime(p, t0))
      Files.setLastModifiedTime(dir, t0)
    }
    mk(root, 0)
    root
  }

  private def fullWalk(root: Path) =
    Walker.walk(spark, root.toString, seedDepth = 1).entries.toDF()

  /** Walk NOW and pin the result (cache alone is lazy — an unforced
    * plan would silently re-walk the mutated tree). */
  private def snapshotNow(root: Path) = {
    val df = fullWalk(root).cache()
    df.count()
    df
  }

  private def paths(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("path").collect().map(_.getString(0)).toSet

  test("no-op rescan: everything unchanged, zero files restatted") {
    val root = buildTree()
    val prev = snapshotNow(root)
    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    val s = res.summary
    assert(s.prefixes_unchanged == 7) // 1 + 2 + 4
    assert(s.prefixes_changed == 0)
    assert(s.prefixes_added == 0)
    assert(s.prefixes_deleted == 0)
    assert(s.files_rescanned == 0)
    assert(s.files_reused == 21) // 7 dirs × 3 files
    assert(s.files_deleted == 0)
    assert(paths(res.entries) == paths(prev))
  }

  test("additions: only touched dirs rescan; snapshot equals full walk") {
    val root = buildTree()
    val prev = snapshotNow(root)
    // add a file in one leaf dir and a whole new dir at depth 1
    val leaf = root.resolve("d0-0/d1-0")
    Files.write(leaf.resolve("f-new"), "hello".getBytes)
    val newDir = root.resolve("d0-1/d-new")
    Files.createDirectory(newDir)
    Files.write(newDir.resolve("f-in-new"), "x".getBytes)

    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    val s = res.summary
    assert(s.prefixes_added == 1) // d-new
    assert(s.prefixes_changed == 2) // d1-0 (new file), d0-1 (new subdir)
    assert(s.prefixes_unchanged == 5)
    assert(s.prefixes_deleted == 0)
    // rescanned files = files under the 2 changed dirs + 1 in new dir
    assert(s.files_rescanned == 3 + 1 + 3 + 1)
    assert(s.files_reused == 5 * 3)
    assert(paths(res.entries) == paths(fullWalk(root)))
  }

  test("deletions: removed subtree reported and absent from snapshot") {
    val root = buildTree()
    val prev = snapshotNow(root)
    // delete subtree d0-1 entirely
    import scala.jdk.CollectionConverters._
    Files.walk(root.resolve("d0-1")).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)

    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    val s = res.summary
    assert(s.prefixes_deleted == 3) // d0-1, d0-1/d1-0, d0-1/d1-1
    assert(s.files_deleted == 9)
    assert(s.prefixes_changed == 1) // root lost a child
    assert(s.prefixes_unchanged == 3) // d0-0 subtree untouched
    assert(paths(res.entries) == paths(fullWalk(root)))
  }

  test("seedDepth=2 rescan: per-seed slices key correctly one level down") {
    // Exercises the slice-keying path where the seed-ancestor is NOT
    // the walk root's direct child list: prev dirs must land in the
    // slice of their depth-2 ancestor, and the driver's shallow index
    // covers depths 0-2.
    val root = buildTree()
    val prev = snapshotNow(root)
    Files.write(root.resolve("d0-0/d1-1").resolve("f-extra"), "zz".getBytes)
    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 2)
    val s = res.summary
    assert(s.prefixes_changed == 1) // only the touched leaf
    assert(s.prefixes_unchanged == 6)
    assert(s.files_reused == 18) // 6 untouched dirs x 3 files
    assert(paths(res.entries) == paths(fullWalk(root)))
  }

  test("type change at one path: file -> dir and dir -> file") {
    val root = buildTree()
    val prev = snapshotNow(root)
    import scala.jdk.CollectionConverters._
    // a file replaced by a dir of the same name (with one file in it)
    val f = root.resolve("d0-0/f1-0")
    Files.delete(f)
    Files.createDirectory(f)
    Files.write(f.resolve("inner"), "i".getBytes)
    // a dir with three files replaced by a file of the same name
    val d = root.resolve("d0-1/d1-0")
    Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    Files.write(d, "now a file".getBytes)

    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    val s = res.summary
    // root, d0-0/d1-0, d0-0/d1-1, d0-1/d1-1 keep their mtimes
    assert(s.prefixes_unchanged == 4)
    assert(s.prefixes_changed == 2) // d0-0, d0-1
    assert(s.prefixes_added == 1) // d0-0/f1-0, a file before
    assert(s.prefixes_deleted == 1) // d0-1/d1-0, a file now
    // d0-0: f1-1, f1-2; d0-1: f1-0..2 + d1-0; d0-0/f1-0: inner
    assert(s.files_rescanned == 7)
    assert(s.files_reused == 4 * 3)
    // d0-0/f1-0 (a dir now) and the three files under d0-1/d1-0
    assert(s.files_deleted == 4)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("path", "is_dir", "size", "n_entries").collect().map(_.toString).toSet
    assert(rows(res.entries) == rows(fullWalk(root)))
  }

  test("mode change invalidates reuse") {
    val root = buildTree()
    val prev = snapshotNow(root)
    val d = root.resolve("d0-0")
    Files.setPosixFilePermissions(d,
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    val res = Incremental.rescan(spark, root.toString, prev, seedDepth = 1)
    assert(res.summary.prefixes_changed == 1)
    assert(paths(res.entries) == paths(fullWalk(root)))
  }
}
