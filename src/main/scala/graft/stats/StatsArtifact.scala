package graft.stats

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Persisted stats artifact (reference `.idustats` gob files +
  * `latest` symlink, stats.go:31-82): each `stats compute` writes a
  * timestamped directory holding ONE parquet table — the
  * `(prefix, uid, gid)` cube of [[Stats.Computed]] — plus a metadata
  * JSON, and flips a LATEST pointer. `stats view` / `reports generate`
  * read the artifact without recomputing the snapshot — same
  * compute-once/view-many contract as the reference, in an
  * object-store-safe layout.
  *
  * Trade-off: views roll the cube up at read time — one aggregate per
  * collected view, over a table no larger than a per-(id, prefix)
  * table — in place of reading six pre-aggregated tables. In return an
  * artifact is one table to write, one schema to read, and the exact
  * state [[Stats.computeIncremental]] merges into.
  */
object StatsArtifact {

  private val tsFmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss.SSS")
    .withZone(ZoneOffset.UTC)

  private val json = new ObjectMapper()

  def write(base: String, computed: Stats.Computed, prefix: String,
      expression: String): String = {
    val name = tsFmt.format(Instant.now())
    val dir = s"$base/stats/$name"
    computed.cube.write.mode(SaveMode.ErrorIfExists).parquet(s"$dir/cube")
    json.writeValue(Paths.get(dir, "meta.json").toFile, json.createObjectNode()
      .put("prefix", prefix).put("expression", expression).put("date", name))
    Files.write(Paths.get(base, "stats", "LATEST"), name.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    name
  }

  def latestName(base: String): Option[String] = {
    val p = Paths.get(base, "stats", "LATEST")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  /** All artifacts, newest first. */
  def candidates(base: String): Seq[String] =
    graft.ingest.Retention.candidates(s"$base/stats")

  /** Keep the newest `keep` artifacts (LATEST target survives);
    * returns deleted names. Reference reports.go:284-296 semantics. */
  def prune(base: String, keep: Int): Seq[String] =
    graft.ingest.Retention.prune(s"$base/stats", keep, protect = latestName(base))

  def read(spark: SparkSession, base: String,
      name: Option[String] = None): Stats.Computed = {
    val n = name.orElse(latestName(base)).getOrElse(
      throw new IllegalStateException(s"no stats artifact under $base"))
    val dir = s"$base/stats/$n"
    require(Files.exists(Paths.get(dir, "cube")),
      s"stats artifact $dir has no cube table (written by an older " +
        "version); re-run `stats compute`")
    Stats.Computed(spark.read.parquet(s"$dir/cube"))
  }
}
