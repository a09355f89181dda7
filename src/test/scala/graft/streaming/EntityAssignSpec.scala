package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class EntityAssignSpec extends SparkSpec {

  import spark.implicits._

  // offline world: two entities, each with two page variants; cluster ids
  // minted by the (stand-in) offline pipeline
  private lazy val canonPages = Seq(
    ("u1", "acme corporation quarterly report\nacme acme revenue revenue grew in the spring quarter and acme acme revenue revenue beat expectations"),
    ("u2", "acme corporation quarterly report\nacme acme revenue revenue grew in the spring quarter and acme acme revenue revenue beat estimates"),
    ("u3", "globex industries merger filing\nglobex globex merger merger documents were filed and globex globex merger merger review began today"),
    ("u4", "globex industries merger filing\nglobex globex merger merger documents were filed and globex globex merger merger review began yesterday"))
    .toDF("url", "text")
  private lazy val clusters = Seq(
    ("u1", "acme"), ("u2", "acme"), ("u3", "globex"), ("u4", "globex"))
    .toDF("url", "cluster_id")
  private lazy val store = {
    val s = EntityAssign.buildCanonical(canonPages, clusters)
    s.reps.cache(); s.stops.cache(); s
  }

  private lazy val arriving = Seq(
    // exact clone of u1 -> must assign to "acme" at score 1.0
    ("p1", "acme corporation quarterly report\nacme acme revenue revenue grew in the spring quarter and acme acme revenue revenue beat expectations"),
    // near variant of u3 (one body word changed) -> "globex"
    ("p2", "globex industries merger filing\nglobex globex merger merger documents were filed and globex globex merger merger review began tomorrow"),
    // unrelated content sharing no entity evidence -> NOVEL (null)
    ("p3", "completely unrelated gardening notes\nroses roses tulips tulips bloom bloom best best when watered watered daily daily in summer"))
    .toDF("url", "text")

  private def collectAssignments(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getAs[String]("url"), Option(r.getAs[String]("cluster_id")),
        Option(r.get(r.fieldIndex("score"))).map(_.asInstanceOf[Double])))
      .sortBy(_._1).toSeq

  test("batch assignment: clone, near-variant, novel") {
    val got = collectAssignments(EntityAssign.assign(arriving, store))
    assert(got.map(g => (g._1, g._2)) ==
      Seq(("p1", Some("acme")), ("p2", Some("globex")), ("p3", None)))
    val p1Score = got.find(_._1 == "p1").get._3.get
    assert(math.abs(p1Score - 1.0) < 1e-9, s"exact clone must score 1.0, got $p1Score")
    assert(got.find(_._1 == "p3").get._3.isEmpty, "novel page carries no score")
  }

  test("stream assignment == batch assignment (stream replay)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-assign-stream")
    arriving.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(arriving.schema).parquet(dir.toString)
    assert(stream.isStreaming)
    val q = EntityAssign.assign(stream, store)
      .writeStream.outputMode("update")
      .format("memory").queryName("assigned")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = collectAssignments(spark.table("assigned"))
    val batch = collectAssignments(EntityAssign.assign(arriving, store))
    assert(streamed == batch, "stream/batch parity violated")
  }

  test("hot (non-discriminative) canonical keys are pruned at prepare time") {
    // every canonical row shares the mention token "acme"; with a
    // hotKeyLimit below the bucket width that key must be dropped, so a
    // page whose only shared evidence is "acme" goes NOVEL — while a page
    // with real content overlap still assigns through its cool keys
    val cfgTight = EntityAssign.Config(hotKeyLimit = 2)
    val manyPages = (0 until 8).map(i =>
      (s"m$i", s"acme division $i report\nalpha$i alpha$i beta$i beta$i gamma$i gamma$i delta$i delta$i")).toDF("url", "text")
    val manyClusters = (0 until 8).map(i => (s"m$i", s"c$i")).toDF("url", "cluster_id")
    val canon = EntityAssign.buildCanonical(manyPages, manyClusters)
    val prepared = EntityAssign.prepareCanonical(canon, cfgTight)
    // the shared "acme" mention key is gone from the prepared table
    val probe = Seq(("px", "acme acme acme\nacme acme acme acme acme acme acme acme acme")).toDF("url", "text")
    val gotProbe = collectAssignments(EntityAssign.assignPrepared(probe, prepared, cfgTight))
    assert(gotProbe == Seq(("px", None, None)), s"hot-key-only evidence must be novel: $gotProbe")
    // content-overlapping page still routes through its distinct keys
    val real = Seq(("py", "acme division 3 report\nalpha3 alpha3 beta3 beta3 gamma3 gamma3 delta3 delta3")).toDF("url", "text")
    val gotReal = collectAssignments(EntityAssign.assignPrepared(real, prepared, cfgTight))
    assert(gotReal.head._2 == Some("c3"), s"cool-key assignment broken: $gotReal")
  }

  test("tie between equal-scoring clusters breaks to the greater cluster_id") {
    // two clusters with IDENTICAL representative text: every candidate
    // scores them equally; max_by(struct(score, cluster_id)) must pick the
    // lexicographically greater id on both paths, deterministically
    val twinPages = Seq(("t1", canonPages.collect()(0).getString(1)),
      ("t2", canonPages.collect()(0).getString(1))).toDF("url", "text")
    val twinClusters = Seq(("t1", "zeta"), ("t2", "alpha")).toDF("url", "cluster_id")
    val twinStore = EntityAssign.buildCanonical(twinPages, twinClusters)
    val got = collectAssignments(
      EntityAssign.assign(arriving.filter($"url" === "p1"), twinStore))
    assert(got == Seq(("p1", Some("zeta"), got.head._3)))
  }

  test("pageFeatures with the corpus's own stops == Blocking.features (url, mention, sig)") {
    // the precondition ErPipeline.incremental states for a batch featurized
    // online: over the same corpus both paths give identical feature rows
    val pages = graft.ingest.CorpusGen.pages(spark, 2000L, seed = 5L).cache()
    val stops = EntityAssign.corpusStops(pages.toDF()).cache()
    assert(stops.collect()(0).getAs[scala.collection.Seq[Long]]("stops").nonEmpty,
      "corpus must have DF-stops for the subtraction to be exercised")
    val offline = graft.block.Blocking.features(pages).select($"url", $"mention", $"sig")
    val online = EntityAssign.pageFeatures(pages.toDF(), stops)
    assert(online.count() == 2000L)
    val onlyOffline = offline.exceptAll(online).count()
    val onlyOnline = online.exceptAll(offline).count()
    assert(onlyOffline == 0 && onlyOnline == 0,
      s"feature paths diverged: $onlyOffline rows only offline, $onlyOnline only online")
    stops.unpersist(); pages.unpersist()
  }

  test("frozen build-time DF-stops route a NEW page of a known entity (round-5 rehearsal regression)") {
    // The failure shape AssignRehearsal measured at 600k docs: every page
    // carries high-DF glue vocabulary alongside its entity topic words. A
    // NEW page of a known entity shares the topic words with the stored
    // rep but draws DIFFERENT glue — without the store's frozen DF-stop
    // set, raw-feature jaccard = 8 topic / (8 + 25 + 25 glue) ≈ 0.14,
    // ≥4 MinHash-estimator sigmas under the 0.35 content gate, and the
    // arrival mis-routes to NOVEL. Freezing the stops at build time strips
    // glue from BOTH sides: jaccard = 1.0 on topic words, and the page
    // routes. (25 glue words per family, not fewer: at 10 the no-stop
    // jaccard is 0.29, close enough to the gate for the 48-hash estimate
    // to flakily cross it.)
    val glueA = (0 until 25).map(i => s"gluea$i gluea$i").mkString(" ")
    val glueB = (0 until 25).map(i => s"glueb$i glueb$i").mkString(" ")
    def topic(e: Int) = (0 until 8).map(i => s"top${e}w$i top${e}w$i").mkString(" ")
    // 20 entities × 2 pages; half the pages carry glue family A, half B,
    // so BOTH families exceed the 10% DF threshold while each entity's
    // topic words (df = 2/40 = 5%) stay under it
    val pages = (0 until 20).flatMap { e =>
      Seq((f"k$e%02d-a", s"entity $e profile\n${topic(e)} $glueA"),
          (f"k$e%02d-b", s"entity $e profile\n${topic(e)} $glueB"))
    }.toDF("url", "text")
    val clusters = (0 until 20).flatMap { e =>
      Seq((f"k$e%02d-a", s"ent$e"), (f"k$e%02d-b", s"ent$e"))
    }.toDF("url", "cluster_id")
    val st = EntityAssign.buildCanonical(pages, clusters)
    // the frozen set caught both glue families and no topic words
    val stops = st.stops.collect()(0).getAs[scala.collection.Seq[Long]]("stops")
    assert(stops.size >= 20, s"expected ≥20 glue stops, got ${stops.size}")
    // rep of ent3 is k03-a (glue A); the arrival re-renders ent3's topic
    // with glue B — zero glue overlap with the rep
    val arrivalB = Seq(("new3", s"entity 3 profile\n${topic(3)} $glueB")).toDF("url", "text")
    val got = collectAssignments(EntityAssign.assign(arrivalB, st))
    assert(got.map(g => (g._1, g._2)) == Seq(("new3", Some("ent3"))),
      s"frozen-stop routing broken: $got")
    // and the control: the same world with DF-stops disabled end-to-end
    // (store AND arrival signed over raw features) mis-routes — guards the
    // test itself: if the corpus shape stops exercising the gate, this
    // starts failing instead of silently passing
    val noStopStore = EntityAssign.buildCanonical(pages, clusters,
      graft.block.Blocking.Config(dfStopRatio = 1.0))
    val gotNoStops = collectAssignments(EntityAssign.assign(arrivalB, noStopStore))
    assert(gotNoStops.map(g => (g._1, g._2)) == Seq(("new3", None)),
      s"control should mis-route without frozen stops: $gotNoStops")
  }
}
