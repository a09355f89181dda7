package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Iceberg-style snapshot/manifest emulation over Parquet (SURVEY.md §7.5):
 * no Iceberg runtime jar ships in /opt/spark/jars (offline coursier), so
 * each checkpointed stage directory carries
 *
 *   <dir>/data/              the Parquet table (atomic per-task commits)
 *   <dir>/manifest.json      snapshot record: row count, schema, stage name,
 *                            config fingerprint — written LAST, atomically
 *                            (tmp + move), so its presence == commit marker
 *   <dir>/counters.json      per-partition Lineage counters, pre-manifest
 *
 * Resume semantics (north rule "any stage resumes mid-run"): a stage whose
 * manifest exists and matches the config fingerprint is *skipped* and its
 * table re-read — the analog of the reference's `force_reindex=False`
 * early-out (`/root/reference/relik/retriever/indexers/inmemory.py:171-175`)
 * and the (disabled) tail-of-file resume in `cli/data.py:500-522`, done
 * correctly: commit is atomic, partial stage output is never observed.
 */
object Checkpoints {

  case class Manifest(stage: String, rows: Long, fingerprint: String, schemaDdl: String)

  private def manifestPath(dir: String) = Paths.get(dir, "manifest.json")

  def manifestExists(dir: String, fingerprint: String): Boolean = {
    val p = manifestPath(dir)
    if (!Files.exists(p)) return false
    val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    json.contains("\"fingerprint\":\"" + fingerprint + "\"")
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def writeManifest(dir: String, m: Manifest): Unit = {
    Files.createDirectories(Paths.get(dir))
    val json =
      s"""{"stage":"${esc(m.stage)}","rows":${m.rows},"fingerprint":"${esc(m.fingerprint)}","schema":"${esc(m.schemaDdl)}"}"""
    val tmp = Paths.get(dir, ".manifest.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /**
   * Run-or-resume a stage: if a committed snapshot with this fingerprint
   * exists, read it back (its counters untouched); otherwise compute `df`,
   * write Parquet, re-read it once for its partition histogram, write
   * `counters.json`, then commit the manifest with the histogram's row
   * total. Returns the (re)read DataFrame — downstream stages always
   * consume the checkpointed table, truncating lineage between stages.
   */
  def stage(spark: SparkSession, dir: String, name: String, fingerprint: String)
           (df: => DataFrame): DataFrame = {
    val dataDir = s"$dir/data"
    if (manifestExists(dir, fingerprint)) {
      spark.read.parquet(dataDir)
    } else {
      df.write.mode("overwrite").parquet(dataDir)
      val written = spark.read.parquet(dataDir)
      val rows = Lineage.writeHistogram(dir, name, Lineage.partitionCounts(written))
      writeManifest(dir, Manifest(name, rows, fingerprint, written.schema.toDDL))
      written
    }
  }
}
