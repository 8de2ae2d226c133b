package graft.ingest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.ingest.Walker.{ProgressHooks, PrevDirs, Record, SeedSlice}

/** Interrupt-and-resume for a FIRST scan (reference analyze.go:82-87,
  * README:110-114: an interrupted analyze restarts where it left off).
  * Incremental *re*-scans already resume by construction (unchanged
  * dirs are skipped against the previous snapshot), but a killed first
  * scan had no snapshot to diff against and restarted from zero.
  *
  * Spark shape: the walk's natural unit of restart is the SEED (a
  * subtree at seedDepth), so the persisted frontier is exactly
  *
  *   frontier/seeds.txt      the sorted seed list (written atomically
  *                           once, first run)
  *   frontier/batch-NNNNN/   one parquet dir per seed batch; the
  *                           batch's _SUCCESS marker (written by
  *                           Spark's commit protocol) IS the
  *                           completed-seeds record — a killed batch
  *                           leaves no marker and re-runs wholesale
  *
  * Driver-level records (depths < seedDepth) are recomputed on resume
  * rather than persisted: driver seeding is bounded (thousands of
  * dirs) and deterministic. Batch composition is deterministic too
  * (sorted seeds, fixed batchSize), so a resume processes exactly the
  * batches the killed run never committed. Like the reference, resume
  * assumes the tree is not mutated between attempts: the seed list is
  * trusted from the first run.
  *
  * At 100 TB the batch is also the checkpoint granularity knob: a
  * batch of 256 seeds on 10k seeds = ~40 commit points, each a normal
  * parquet job — no custom state store, and the final assembly is a
  * metadata-only union of committed batches.
  */
object ResumableWalk {

  final case class Outcome(records: Dataset[Record], completedBatches: Int,
      totalBatches: Int) {
    def complete: Boolean = completedBatches >= totalBatches
  }

  /** Walk `root`, checkpointing per seed batch under `frontierDir`.
    * Pass `maxBatches` to bound how many NEW batches this invocation
    * runs (test hook emulating a kill); resume by calling again with
    * the same frontier. `records` unions the driver levels with every
    * COMMITTED batch — the full tree iff `complete`. */
  def walk(spark: SparkSession, root: String, frontierDir: String,
      exclusions: Seq[String] = Nil, seedDepth: Int = 2,
      parallelism: Int = 0, batchSize: Int = 256,
      maxBatches: Int = Int.MaxValue,
      progress: Option[ProgressHooks] = None): Outcome = {
    import spark.implicits._
    require(batchSize > 0, s"batchSize $batchSize")
    val fr = Paths.get(frontierDir)
    Files.createDirectories(fr)
    val rootPath = Paths.get(root).toAbsolutePath.normalize
    val par = if (parallelism > 0) parallelism
      else spark.sparkContext.defaultParallelism

    // Driver levels: always recomputed (cheap, deterministic).
    val (driverRecords, freshSeeds) =
      Walker.driverSeed(rootPath, exclusions, seedDepth, PrevDirs.empty, progress)

    val seedsFile = fr.resolve("seeds.txt")
    val seeds: Seq[String] =
      if (Files.exists(seedsFile)) Files.readAllLines(seedsFile).asScala.toSeq
      else {
        val sorted = freshSeeds.sorted
        val tmp = fr.resolve("seeds.txt.tmp")
        Files.write(tmp, sorted.asJava)
        Files.move(tmp, seedsFile, StandardCopyOption.ATOMIC_MOVE)
        sorted
      }

    val batches = seeds.grouped(batchSize).toVector
    def batchDir(i: Int): Path = fr.resolve(f"batch-$i%05d")
    def committed(i: Int): Boolean =
      Files.exists(batchDir(i).resolve("_SUCCESS"))

    var ran = 0
    batches.indices.foreach { i =>
      if (!committed(i) && ran < maxBatches) {
        Walker.walkSeeds(batches(i).map(SeedSlice(_, None)).toDS(),
          exclusions, par, progress)
          .write.mode("overwrite").parquet(batchDir(i).toString)
        ran += 1
      }
    }

    val done = batches.indices.count(committed)
    val committedDirs = batches.indices.filter(committed)
      .map(batchDir(_).toString)
    val batchRecords =
      if (committedDirs.isEmpty) spark.emptyDataset[Record]
      else spark.read.parquet(committedDirs: _*).as[Record]
    Outcome(batchRecords.union(spark.createDataset(driverRecords)),
      done, batches.size)
  }

  /** Drop the frontier after the snapshot is durably written. */
  def clear(frontierDir: String): Unit = {
    val fr = Paths.get(frontierDir)
    if (Files.exists(fr)) {
      Files.walk(fr).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
  }
}
