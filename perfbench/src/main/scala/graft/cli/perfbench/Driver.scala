package graft.cli.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one operation at a time (a closed loop with one client), times
  * it, checks its output outside the timed region, and in traced mode
  * also records spans, engine counters and GC time for its window. */
final class Runner(trace: Boolean) {
  val spans = new Spans(trace)
  var spark: SparkSession = _
  private var meter: Option[OpMeter] = None
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val notes = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** 0 during set-up, then the measured pass number. */
  var pass = 0
  /** Time spent in output checks so far; set-up time excludes it. */
  var checkSeconds = 0.0
  private var nextOp = 1
  private var currentOp = 0

  /** Time `body` as operation `op`; `check` runs untimed on its result
    * and returns the failed checks. A thrown exception is a failure. */
  def op[T](op: String, label: String)(body: => T)(check: T => Seq[String]): Option[T] = {
    currentOp = nextOp
    spans.opId = currentOp
    meter.foreach(_.begin())
    val gc0 = Jvm.gcMillis()
    val cpu0 = Jvm.cpuSeconds()
    val t0 = System.nanoTime()
    val res =
      try Right(spans(s"op.$op")(body))
      catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val gcS = (Jvm.gcMillis() - gc0) / 1e3
    val cpuS = Jvm.cpuSeconds() - cpu0
    val counters = meter.map(_.end())
    val c0 = System.nanoTime()
    val errors = res match {
      case Left(e) =>
        Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      case Right(v) =>
        try check(v)
        catch { case e: Throwable => Seq(s"check threw ${e.toString.take(500)}") }
    }
    checkSeconds += (System.nanoTime() - c0) / 1e9
    if (errors.nonEmpty)
      System.err.println(s"[perfbench] $op($label) FAILED: ${errors.mkString("; ")}")
    ops += Map("id" -> nextOp, "op" -> op, "label" -> label, "pass" -> pass,
      "s" -> secs, "ok" -> errors.isEmpty, "errors" -> errors,
      "gc_s" -> gcS, "cpu_s" -> cpuS) ++ counters.map("counters" -> _)
    nextOp += 1
    spans.opId = 0
    currentOp = 0
    res.toOption
  }

  /** Record a per-layer value measured at a layer boundary. */
  def note(name: String, value: Double): Unit =
    notes += Map("name" -> name, "value" -> value, "op" -> currentOp)

  /** Run further operations on session `s`. */
  def attach(s: SparkSession): Unit = {
    meter.foreach(_.detach())
    spark = s
    meter = if (trace) Some(new OpMeter(s.sparkContext)) else None
  }
}

/** A benchmark workload: a set of seeded inputs and a fixed sequence of
  * operations (one pass) run in a closed loop. */
trait Workload {
  /** Load the generated inputs into the engine's store (set-up). */
  def load(r: Runner): Unit
  /** Pass `k` (from 1) of the workload's operation sequence. */
  def pass(r: Runner, k: Int): Unit
  /** Extra output fields, gathered after the measured loop. */
  def finish(r: Runner): Map[String, Any] = Map.empty
}

object Driver {
  val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def readJson(p: Path): JsonNode = json.readTree(p.toFile)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val input = Paths.get(opts("input")).toAbsolutePath
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val wl: Workload = opts("workload") match {
      case "fs_scan" => new FsScan(input, work)
      case "corpus" => new Corpus(input, work)
    }
    // Set-up, three times: session start plus loading the inputs into
    // the engine's store (its output checks excluded). The last session
    // stays up for the measured loop.
    val r = new Runner(trace)
    val setupStart = System.nanoTime()
    val setupS = mutable.ArrayBuffer.empty[Double]
    (1 to 3).foreach { _ =>
      if (r.spark != null) r.spark.stop()
      val t0 = System.nanoTime()
      val c0 = r.checkSeconds
      r.attach(session(cores, work))
      wl.load(r)
      setupS += (System.nanoTime() - t0) / 1e9 - (r.checkSeconds - c0)
    }
    val setupPhaseS = (System.nanoTime() - setupStart) / 1e9
    // The measured loop: whole passes until the window is used up. There
    // is no warm-up pass: a pass is measured the way a CLI invocation
    // pays for it, right after the session and store are set up.
    val start = System.nanoTime()
    var k = 1
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      r.pass = k
      wl.pass(r, k)
      k += 1
    }
    val windowS = (System.nanoTime() - start) / 1e9
    val extra = wl.finish(r)
    val out = Map(
      "workload" -> opts("workload"), "cores" -> cores, "trace" -> trace,
      "setup_s" -> setupS.toList, "setup_phase_s" -> setupPhaseS,
      "window_s" -> windowS,
      "ops" -> r.ops.toList, "notes" -> r.notes.toList,
      "spans" -> r.spans.all.toList,
      "rss_peak_mb" -> Jvm.rssPeakMb(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0) ++ extra
    r.spark.stop()
    Files.writeString(Paths.get(opts("out")), json.writeValueAsString(out))
  }
}
