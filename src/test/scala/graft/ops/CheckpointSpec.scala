package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CheckpointSpec extends SparkSpec {

  test("stage computes once, then resumes from manifest") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-ckpt").toString
    var computed = 0
    def build() = { computed += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val counters = Paths.get(dir, "s1", "counters.json")
    def rows(f: String) = "\"rows\":(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(Paths.get(dir, "s1", f)))).map(_.group(1))

    val first = Checkpoints.stage(spark, s"$dir/s1", "s1", "fp1")(build())
    assert(first.count() == 2 && computed == 1)
    // the commit writes counters.json, whose rows the manifest repeats
    assert(rows("counters.json") == Some("2") && rows("manifest.json") == Some("2"))
    val (bytes, mtime) = (Files.readAllBytes(counters), Files.getLastModifiedTime(counters))
    Thread.sleep(20) // a rewrite would then show a later mtime
    val second = Checkpoints.stage(spark, s"$dir/s1", "s1", "fp1")(build())
    assert(second.count() == 2 && computed == 1, "must not recompute on same fingerprint")
    assert(Files.readAllBytes(counters).sameElements(bytes) &&
      Files.getLastModifiedTime(counters) == mtime, "resume must not rewrite counters")

    // changed config fingerprint -> recompute
    val third = Checkpoints.stage(spark, s"$dir/s1", "s1", "fp2")(build())
    assert(third.count() == 2 && computed == 2, "must recompute on new fingerprint")
  }

  test("partial write without manifest is not observed as committed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    // simulate a crashed stage: data written, no manifest
    Seq((1, "stale")).toDF("id", "v").write.parquet(s"$dir/s/data")
    assert(!Checkpoints.manifestExists(s"$dir/s", "fp"))
    val out = Checkpoints.stage(spark, s"$dir/s", "s", "fp") {
      Seq((1, "fresh"), (2, "fresh")).toDF("id", "v")
    }
    assert(out.count() == 2)
    assert(out.filter(col("v") === "stale").count() == 0)
  }

  test("lineage counters JSON written with partition histogram") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lin").toString
    val df = spark.range(0, 1000, 1, 4).toDF("id")
    Lineage.writeCounters(dir, "test", df, Map("purged_blocks" -> 3L))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "counters.json")))
    assert(json.contains("\"rows\":1000"))
    assert(json.contains("\"n_partitions\":4"))
    assert(json.contains("\"purged_blocks\":3"))
    assert(json.contains("\"skew_factor\""))
  }
}
