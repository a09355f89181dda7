package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Source-format parity (SURVEY.md §2.1): the reference's KB loaders
 * (`/root/reference/relik/retriever/indexers/document.py:312-380`: jsonl +
 * header-driven tsv/csv with metadata columns) and raw-text batch source
 * (`cli/cli.py:131-135`) as Spark readers.
 */
class SourcesSpec extends SparkSpec {

  test("S2: tsv KB scan with header-driven metadata columns") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-kb").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "kb.tsv"),
      "id\ttext\tcategory\tpopularity\n" +
        "1\tAlbert Einstein\tperson\t0.9\n" +
        "2\tBerlin\tplace\t0.7\n")
    val kb = spark.read
      .option("sep", "\t").option("header", "true")
      .csv(s"$tmp/kb.tsv")
      // header-driven metadata: every non-(id,text) column goes into the map
      .withColumn("metadata", map_from_arrays(
        array(lit("category"), lit("popularity")),
        array(col("category"), col("popularity"))))
      .select(col("id").cast("long"), col("text"), col("metadata"))
    val rows = kb.collect()
    assert(rows.length == 2)
    val m = rows.find(_.getLong(0) == 1L).get.getMap[String, String](2)
    assert(m("category") == "person" && m("popularity") == "0.9")
  }

  test("S2/P8: KbSource loaders + passage formatting with metadata fields") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-kb3").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "kb.tsv"),
      "id\ttext\tdefinition\tcategory\n" +
        "1\tAlbert Einstein\tphysicist born in Ulm\tperson\n" +
        "2\tBerlin\tcapital of Germany\tplace\n")
    val kb = KbSource.loadDelimited(spark, s"$tmp/kb.tsv")
    assert(kb.columns.toSeq == Seq("id", "text", "metadata"))
    val passages = kb.select(col("id"),
        KbSource.formatPassage(col("text"), col("metadata"),
          Seq("definition", "category")).as("passage"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(passages(1L) == "Albert Einstein <def> physicist born in Ulm <def> person")
    assert(passages(2L) == "Berlin <def> capital of Germany <def> place")
    // missing metadata field contributes an empty string, not a null passage
    val withMissing = kb.select(KbSource.formatPassage(col("text"), col("metadata"),
      Seq("definition", "nope")).as("p")).collect().map(_.getString(0))
    assert(withMissing.contains("Albert Einstein <def> physicist born in Ulm <def> "))
  }

  test("S2: jsonl KB scan (id defaults analog: hash of text when absent)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-kb2").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "kb.jsonl"),
      """{"text": "Albert Einstein", "metadata": {"type": "person"}}""" + "\n" +
        """{"id": 7, "text": "Berlin", "metadata": {}}""" + "\n")
    val kb = spark.read.json(s"$tmp/kb.jsonl")
      // document.py:26 — missing id defaults to a deterministic hash of text
      .withColumn("id", coalesce(col("id"), xxhash64(col("text"))))
    val rows = kb.select("id", "text").collect()
    assert(rows.length == 2)
    assert(rows.exists(_.getLong(0) == 7L))
    assert(rows.forall(!_.isNullAt(0)))
  }

  test("S2: KbSource.loadJsonl accepts the documented jsonl shape (struct metadata -> map)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-kb4").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "kb.jsonl"),
      """{"id": 1, "text": "Albert Einstein", "metadata": {"type": "person", "born": "1879"}}""" + "\n" +
        """{"text": "Berlin", "metadata": {"type": "place"}}""" + "\n")
    val kb = KbSource.loadJsonl(spark, s"$tmp/kb.jsonl")
    assert(kb.columns.toSeq == Seq("id", "text", "metadata"))
    val rows = kb.collect()
    assert(rows.length == 2)
    val einstein = rows.find(r => r.getString(1) == "Albert Einstein").get
    val m1 = einstein.getMap[String, String](2)
    assert(m1("type") == "person" && m1("born") == "1879")
    // per-row-absent struct fields must NOT appear as null-valued map keys
    val berlin = rows.find(r => r.getString(1) == "Berlin").get
    val m2 = berlin.getMap[String, String](2)
    assert(m2("type") == "place" && !m2.contains("born"))
    assert(!berlin.isNullAt(0), "missing id defaults to text hash")
  }

  test("S2: KbSource.loadJsonl without any metadata field") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-kb5").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "kb.jsonl"),
      """{"id": 3, "text": "Rome"}""" + "\n")
    val kb = KbSource.loadJsonl(spark, s"$tmp/kb.jsonl")
    val r = kb.collect().head
    assert(r.getLong(0) == 3L && r.getMap[String, String](2).isEmpty)
  }

  test("S7: raw-text batch source") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-txt").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "in.txt"),
      "first line\nsecond line\nthird line\n")
    val df = spark.read.text(s"$tmp/in.txt")
    assert(df.count() == 3)
    assert(df.columns.toSeq == Seq("value"))
  }

  test("S5: embedding table sink/scan round-trip (tensor-file analog)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-emb").toString
    val vecs = Seq((1L, Array(0.1f, 0.2f)), (2L, Array(0.3f, 0.4f)))
      .toDF("doc_id", "vec")
    vecs.write.mode("overwrite").parquet(s"$tmp/emb")
    val back = spark.read.parquet(s"$tmp/emb")
    assert(back.count() == 2)
    assert(back.schema("vec").dataType.simpleString == "array<float>")
  }

  test("dataBytes: a parquet directory measures the sum of its part files") {
    val root = java.nio.file.Files.createTempDirectory("graft-bytes").toFile
    val dir = s"$root/t.parquet"
    try {
      spark.range(3000).selectExpr("id", "cast(id AS string) AS s").repartition(3).write.parquet(dir)
      val parts = new java.io.File(dir).listFiles.filter(_.getName.startsWith("part-"))
      assert(parts.length == 3)
      assert(graft.SparkEntry.dataBytes(spark, dir) == parts.map(_.length).sum)
      // a single-file layout measures as before (java.io.File#length)
      assert(graft.SparkEntry.dataBytes(spark, parts.head.getPath) == parts.head.length)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }
}
