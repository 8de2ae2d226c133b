package graft.ingest

import java.nio.file.attribute.PosixFilePermissions
import java.nio.file.{Files, Path}

import graft.SparkSpec

/** Walker E2E over a synthetic tree mirroring the reference's test
  * fixture (testdata_test.go:16-175, FIXTURES.md §1): depth×breadth×
  * files, an inaccessible dir, symlinks (one dangling).
  */
class WalkerSpec extends SparkSpec {

  /** depth 3, breadth 2, 3 files per dir + symlinks at the root. */
  private def buildTree(): (Path, Int, Int) = {
    val root = Files.createTempDirectory("graft-walk")
    var nDirs = 0
    var nFiles = 0
    def mk(dir: Path, level: Int): Unit = {
      for (i <- 0 until 3) {
        val f = dir.resolve(s"f$level-$i")
        Files.write(f, ("x" * (i + 1)).getBytes)
        nFiles += 1
      }
      if (level < 3) {
        for (i <- 0 until 2) {
          val d = dir.resolve(s"d$level-$i")
          Files.createDirectory(d)
          nDirs += 1
          mk(d, level + 1)
        }
      }
    }
    mk(root, 0)
    Files.createSymbolicLink(root.resolve("f-soft-link"), root.resolve("f0-0"))
    Files.createSymbolicLink(root.resolve("f-dangling"), root.resolve("nowhere"))
    (root, nDirs + 1, nFiles + 2) // +1 root dir; symlinks count as file rows
  }

  test("walk emits one row per dir and file, with correct sizes") {
    val (root, expDirs, expFiles) = buildTree()
    val res = Walker.walk(spark, root.toString, seedDepth = 2)
    val entries = res.entries.collect()
    val errors = res.errors.collect()
    assert(errors.isEmpty, errors.mkString(";"))
    assert(entries.count(_.is_dir) == expDirs)
    assert(entries.count(!_.is_dir) == expFiles)
    // every path unique
    assert(entries.map(_.path).distinct.length == entries.length)
    // file sizes are 1,2,3 per dir
    val byName = entries.filter(e => !e.is_dir && e.name.startsWith("f0-"))
      .map(e => e.name -> e.size).toMap
    assert(byName == Map("f0-0" -> 1L, "f0-1" -> 2L, "f0-2" -> 3L))
    // dir rows carry child counts (root: 3 files + 2 dirs + 2 symlinks)
    val rootRow = entries.find(_.path == root.toString).get
    assert(rootRow.n_entries == 7)
    // symlink recorded, not followed: dangling link present as a row
    assert(entries.exists(e => e.name == "f-dangling" && !e.is_dir))
  }

  test("inaccessible directory yields an error row, not a crash") {
    assume(System.getProperty("user.name") != "root",
      "root bypasses permission bits; reference skips this case too")
    val (root, _, _) = buildTree()
    val locked = root.resolve("locked")
    Files.createDirectory(locked)
    Files.setPosixFilePermissions(locked, PosixFilePermissions.fromString("---------"))
    try {
      val res = Walker.walk(spark, root.toString, seedDepth = 2)
      assert(res.errors.collect().exists(_.path == locked.toString))
      // an incremental rescan carries the walk's errors too; the
      // locked dir has no row to reuse, so touch its parent to have
      // it listed again
      val prev = res.entries.toDF().cache()
      prev.count()
      Files.write(root.resolve("f-touch"), "t".getBytes)
      val inc = Incremental.rescan(spark, root.toString, prev, seedDepth = 2)
      assert(inc.errors.collect().exists(_.path == locked.toString))
    } finally {
      Files.setPosixFilePermissions(locked, PosixFilePermissions.fromString("rwxrwxrwx"))
    }
  }

  test("exclusion regex prunes whole subtrees") {
    val (root, _, _) = buildTree()
    val res = Walker.walk(spark, root.toString,
      exclusions = Seq("""d0-1"""), seedDepth = 2)
    val paths = res.entries.collect().map(_.path)
    assert(!paths.exists(_.contains("d0-1")))
    assert(paths.exists(_.contains("d0-0")))
  }

  test("wide directory (parallel stat path) walks identically") {
    // 100 children crosses parallelStatThreshold: the shared stat pool
    // stats them concurrently; results must be complete, ordered by
    // the fact table's own keys, and error-free.
    val root = Files.createTempDirectory("graft-wide")
    for (i <- 0 until 90) Files.write(root.resolve(f"w$i%03d"), ("z" * (i % 7 + 1)).getBytes)
    for (i <- 0 until 10) {
      val d = root.resolve(f"wd$i")
      Files.createDirectory(d)
      Files.write(d.resolve("inner"), "q".getBytes)
    }
    val res = Walker.walk(spark, root.toString, seedDepth = 1)
    val entries = res.entries.collect()
    assert(res.errors.collect().isEmpty)
    assert(entries.count(!_.is_dir) == 100) // 90 wide + 10 inner
    assert(entries.count(_.is_dir) == 11)
    assert(entries.map(_.path).distinct.length == entries.length)
    val sizes = entries.filter(e => e.name.startsWith("w") && !e.is_dir && e.depth == 1)
    assert(sizes.forall(e => e.size == e.name.drop(1).toInt % 7 + 1))
  }

  test("seedDepth does not change the result set") {
    val (root, _, _) = buildTree()
    val a = Walker.walk(spark, root.toString, seedDepth = 1)
      .entries.collect().map(_.path).sorted
    val b = Walker.walk(spark, root.toString, seedDepth = 3)
      .entries.collect().map(_.path).sorted
    assert(a.sameElements(b))
  }

  test("progress hooks count the walk and the ticker reports files/s + slow scans") {
    val (root, expDirs, expFiles) = buildTree()
    // slowMs = 0: every dir trips the slow-scan warning deterministically.
    val progress = new Walker.WalkProgress(spark, slowMs = 0)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val tick = progress.ticker(
      out = s => lines.synchronized { lines += s }, intervalMs = 25)
    try {
      Walker.walk(spark, root.toString, seedDepth = 2,
        progress = Some(progress.hooks)).records.count()
    } finally tick.close()
    assert(progress.hooks.dirs.value == expDirs.toLong)
    assert(progress.hooks.files.value == expFiles.toLong)
    val snap = lines.synchronized(lines.toVector)
    assert(snap.exists(_.startsWith("analyze progress:")), snap.mkString("\n"))
    assert(snap.exists(_.startsWith("analyze slow-scan:")), snap.mkString("\n"))
  }

  test("interrupted first scan resumes from the frontier; result equals one-shot walk") {
    val (root, _, _) = buildTree()
    val frontier = Files.createTempDirectory("graft-frontier").toString
    val full = Walker.walk(spark, root.toString, seedDepth = 2)
      .entries.collect().map(e => (e.path, e.size, e.is_dir)).toSet

    // "Kill" after 2 of the 4 seed batches (batchSize = 1 → one seed
    // per batch; buildTree has 4 dirs at seedDepth 2).
    val first = ResumableWalk.walk(spark, root.toString, frontier,
      seedDepth = 2, batchSize = 1, maxBatches = 2)
    assert(first.totalBatches == 4, s"expected 4 seed batches, got $first")
    assert(first.completedBatches == 2 && !first.complete)

    // Resume: completes the remaining batches WITHOUT re-running the
    // committed ones (their _SUCCESS markers stay untouched).
    val b0 = java.nio.file.Paths.get(frontier, "batch-00000", "_SUCCESS")
    val mtime0 = Files.getLastModifiedTime(b0)
    val second = ResumableWalk.walk(spark, root.toString, frontier,
      seedDepth = 2, batchSize = 1)
    assert(second.complete && second.completedBatches == 4)
    assert(Files.getLastModifiedTime(b0) == mtime0,
      "resume must not re-run committed batches")

    val resumed = Walker.Result(second.records)
      .entries.collect().map(e => (e.path, e.size, e.is_dir)).toSet
    assert(resumed == full)

    ResumableWalk.clear(frontier)
    assert(!Files.exists(java.nio.file.Paths.get(frontier)))
  }
}
