package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.mr.{CounterNames, Counters, MapReduceSpecification, Mapper,
  Pipeline, Reducer}

/** The capstone manifest's composition contract: the decision column
  * partitions the corpus, reasons map to decisions per the policy
  * table, the priority order is what the scaladoc promises, and the
  * per-reason NAMED COUNTERS ride the MR counter machinery
  * (Pipeline.runWithResult) in agreement with the relational
  * aggregation — the chained-job accounting the reference's
  * ChainedMapReduceJob surfaces through its counters map. */
class TextCurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val manifest = {
    val docs = graft.core.Tables.documents(spark, TestSpark.sfDir)
    val sh = TextDedup.shingles(docs)
    TextCuration.manifest(spark, docs, sh,
      TextCuration.Config(stopwords = graft.functions.TextCuration.DemoStopwords))
      .localCheckpoint(true)
  }

  test("manifest covers every document exactly once with a valid " +
      "(decision, reason) pair") {
    val docs = graft.core.Tables.documents(spark, TestSpark.sfDir)
    assert(manifest.count() === docs.count())
    assert(manifest.select(col("doc_id")).distinct().count() === docs.count())
    val pairs = manifest.select(col("decision"), col("reason"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val dropReasons = Set("benchmark_member", "exact_dup", "near_dup",
      "contaminated", "low_quality", "classifier_reject")
    pairs.foreach {
      case ("keep", r)   => assert(r === "clean")
      case ("redact", r) => assert(r === "dup_spans")
      case ("drop", r)   => assert(dropReasons.contains(r), r)
      case (d, r)        => fail(s"unknown decision $d (reason $r)")
    }
  }

  test("priority order: a reason implies every higher-priority gate " +
      "passed (signals are on the row, so this is checkable per doc)") {
    manifest.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val exact = r.getAs[Int]("exact_dup")
      val near = r.getAs[Int]("near_dup")
      val dupChars = r.getAs[Long]("dup_chars")
      val obp = r.getAs[Long]("overlap_bp")
      val qp = r.getAs[Int]("quality_pass")
      val margin = r.getAs[Long]("margin")
      val expected =
        if (id % 7 == 0) "benchmark_member"
        else if (exact == 1) "exact_dup"
        else if (near == 1) "near_dup"
        else if (obp >= 1000) "contaminated"
        else if (qp == 0) "low_quality"
        else if (margin <= 0) "classifier_reject"
        else if (dupChars > 0 || obp > 0) "dup_spans"
        else "clean"
      assert(r.getAs[String]("reason") === expected, s"doc $id")
    }
  }

  test("servingDecisions is batch-split-invariant: two sequential " +
      "micro-batches with folded IngestPrior == the one-shot run") {
    val docs = graft.core.Tables.documents(spark, TestSpark.sfDir)
    val isBatch = col("doc_id") % 4 === 0
    val cfg = TextCuration.Config(stopwords = graft.functions.TextCuration.DemoStopwords,
      classifierRounds = 2) // spec speed; invariance is rounds-agnostic
    val idx = TextCuration.buildServingIndex(spark,
      docs.where(!isBatch), cfg)
    def collectDecisions(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("decision"), r.getAs[String]("reason"))).toMap
    val oneShot = collectDecisions(TextCuration.servingDecisions(spark,
      docs.where(isBatch), idx, TextCuration.IngestPrior(), cfg))
    // split the ingest in doc_id order at the median batch id
    val ids = docs.where(isBatch).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val b1 = docs.where(isBatch && col("doc_id") < mid)
    val b2 = docs.where(isBatch && col("doc_id") >= mid)
    val first = collectDecisions(TextCuration.servingDecisions(spark,
      b1, idx, TextCuration.IngestPrior(), cfg))
    val b1Sh = TextDedup.shingles(b1)
    val prior = TextCuration.IngestPrior(
      hashes = Some(b1.select(md5(col("text")).as("h")).distinct()),
      shingles = Some(b1Sh),
      grams = Some(SubstringDedup.anchors(b1).select(col("g")).distinct()),
      bands = Some(TextDedup.lshBands(
        TextDedup.minhashSignatures(b1Sh, numHashes = 12),
        bands = 4, rowsPerBand = 3)))
    val second = collectDecisions(TextCuration.servingDecisions(spark,
      b2, idx, prior, cfg))
    val split = first ++ second
    // decisions must match; reasons may shift only between the
    // equivalent duplicate labels (an earlier-batch exact dup labels
    // batch_exact_dup either way; an earlier-batch NEAR dup labels
    // near_dup either way via the folded corpus side)
    assert(split.keySet === oneShot.keySet)
    split.foreach { case (id, (dec, reason)) =>
      assert(dec === oneShot(id)._1, s"doc $id decision")
      assert(reason === oneShot(id)._2, s"doc $id reason")
    }
  }

  /** The serving fixture: the corpus side (doc_id % 4 != 0) is
    * indexed, and the ingest (doc_id % 4 == 0) splits at its median id
    * into a prior batch and the batch under test. Some batch docs are
    * rewritten so that every dedup source occurs beside the reasons
    * the data gives by itself: copies of a corpus doc, a prior doc and
    * an earlier batch doc (exact), the same with the first word
    * replaced (near), and a doc's text with a corpus doc's or a prior
    * doc's text appended (substring), and one with a benchmark doc's
    * text appended (contamination). Returns the batch, the prior
    * docs, the corpus docs and the rewritten doc ids by role. */
  private lazy val servingFixture = {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, TestSpark.sfDir)
    val all = docs.select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    val text = all.map(r => r._1 -> r._2).toMap
    // benchmark members (id % 7 == 0) would hide every other reason
    val ingest = all.map(_._1).filter(_ % 4 == 0)
    val (priorIds, batchIds) = ingest.splitAt(ingest.length / 2)
    val corpusIds = all.map(_._1).filter(id => id % 4 != 0 && id % 7 != 0)
    val b = batchIds.filter(_ % 7 != 0)
    val p = priorIds.filter(_ % 7 != 0)
    def near(t: String) = t.replaceFirst("^\\S+", "dup")
    val roles = Map(
      "corpus_exact" -> b(0), "prior_exact" -> b(1), "batch_exact" -> b(3),
      "corpus_near" -> b(4), "prior_near" -> b(5), "batch_near" -> b(7),
      "corpus_substring" -> b(8), "prior_substring" -> b(9),
      "contaminated" -> b(10))
    val benchmarkDoc = all.map(_._1).find(id => id % 4 != 0 && id % 7 == 0).get
    val rewritten = Map(
      b(0) -> text(corpusIds(0)),
      b(1) -> text(p(0)),
      b(3) -> text(b(2)),
      b(4) -> near(text(corpusIds(1))),
      b(5) -> near(text(p(1))),
      b(7) -> near(text(b(6))),
      b(8) -> (text(b(8)) + " " + text(corpusIds(2))),
      b(9) -> (text(b(9)) + " " + text(p(2))),
      b(10) -> (text(b(10)) + " " + text(benchmarkDoc)))
    val batch = all.filter(r => batchIds.contains(r._1)).map {
      case (id, t, lang, source) =>
        val t2 = rewritten.getOrElse(id, t)
        (id, t2, lang, source, t2.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    (batch, docs.where(col("doc_id").isin(priorIds.toSeq: _*)),
      docs.where(col("doc_id") % 4 =!= 0), roles)
  }

  private lazy val servingCfg = TextCuration.Config(
    stopwords = TextCuration.DemoStopwords, classifierRounds = 2)

  /** The fixture's index and prior twice: built in memory, and
    * persisted through ServingState (the loaded KeyedTable index and
    * the durably folded prior the streaming path reads). */
  private lazy val servingStates = {
    val (_, priorDocs, corpus, _) = servingFixture
    val idx = TextCuration.buildServingIndex(spark, corpus, servingCfg)
    val priorSh = TextDedup.shingles(priorDocs).localCheckpoint(true)
    val priorBands = TextDedup.lshBands(
      TextDedup.minhashSignatures(priorSh, numHashes = 12),
      bands = 4, rowsPerBand = 3)
    val priorHashes = priorDocs.select(md5(col("text")).as("h"))
    val priorGrams = SubstringDedup.anchors(priorDocs).select(col("g"))
    val inMemory = TextCuration.IngestPrior(
      hashes = Some(priorHashes.distinct()), shingles = Some(priorSh),
      grams = Some(priorGrams.distinct()), bands = Some(priorBands))
    val dir = java.nio.file.Files.createTempDirectory("graft-serving")
      .toString + "/s"
    graft.streaming.ServingState.saveServingIndex(spark, idx, dir)
    graft.streaming.ServingState.fold(spark, dir, 0L, hashes = priorHashes,
      shingles = priorSh, grams = priorGrams, bands = priorBands)
    Seq("in-memory" -> (idx, inMemory),
      "loaded" -> (graft.streaming.ServingState.loadServingIndex(spark, dir),
        graft.streaming.ServingState.priorFor(spark, dir, 1L)))
  }

  test("servingDecisions: the bounded probe route equals the unbounded " +
      "join route row for row, on an in-memory and a loaded index with " +
      "a non-empty prior, over a batch carrying every reason") {
    val (batch, _, _, roles) = servingFixture
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    servingStates.foreach { case (name, (idx, prior)) =>
      val bounded = rows(TextCuration.servingDecisions(spark, batch, idx,
        prior, servingCfg))
      val joined = rows(TextCuration.servingDecisionsWithin(spark, batch,
        idx, prior, servingCfg, None, None, maxProbeKeys = 0))
      assert(bounded.length === batch.count(), name)
      assert(bounded === joined, name)
      val reasons = bounded.map(_(9)).toSet
      assert(reasons === Set("benchmark_member", "corpus_exact_dup",
        "batch_exact_dup", "near_dup", "contaminated", "low_quality",
        "classifier_reject", "dup_spans", "clean"), name)
      val byId = bounded.map(r => r.head.asInstanceOf[Long] -> r).toMap
      def signal(role: String, i: Int) = byId(roles(role))(i)
      assert(signal("corpus_exact", 1) === 1, name)
      Seq("prior_exact", "batch_exact").foreach(r =>
        assert(signal(r, 2) === 1, s"$name $r"))
      Seq("corpus_near", "prior_near", "batch_near").foreach(r =>
        assert(signal(r, 3) === 1, s"$name $r"))
      Seq("corpus_substring", "prior_substring").foreach(r =>
        assert(signal(r, 4).asInstanceOf[Long] > 0L, s"$name $r"))
      assert(signal("contaminated", 9) === "contaminated", name)
    }
  }

  test("servingDecisions: a bounded batch's decision write runs at most " +
      "10 Spark jobs against the loaded index and durable prior") {
    val (batch, _, _, _) = servingFixture
    val (_, (idx, prior)) = servingStates.last
    val batchSh = TextDedup.shingles(batch).localCheckpoint(true)
    val batchAnchors = SubstringDedup.anchors(batch).localCheckpoint(true)
    val out = java.nio.file.Files.createTempDirectory("graft-serving-out")
      .toString + "/o"
    val (_, jobs) = graft.SparkJobs.count(spark) {
      TextCuration.servingDecisions(spark, batch, idx, prior, servingCfg,
        batchShinglesOpt = Some(batchSh),
        batchAnchorsOpt = Some(batchAnchors)).write.parquet(out)
    }
    info(s"jobs: $jobs")
    assert(jobs <= 10, s"$jobs jobs")
  }

  test("servingDecisions: many copies of one doc in the corpus or in the " +
      "batch exceed a bound the batch's keys fit, and take the join " +
      "route with the same rows") {
    import spark.implicits._
    val (_, _, corpus, _) = servingFixture
    val texts = corpus.select("text").as[String].collect()
      .filter(t => t != null && t.split("\\s+").length >= 8)
    def docsOf(ids: Seq[Long], text: String) = ids.map(id =>
        (id, text, "en", "copy", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // the gate's key rows: anchors, content hashes, 5-grams, bands
    def keyRows(batch: org.apache.spark.sql.DataFrame): Long =
      SubstringDedup.anchors(batch).count() + batch.count() +
        TextDedup.shingles(batch, n = 5).count() +
        4 * TextDedup.shingles(batch).select("doc_id").distinct().count()
    def check(name: String, batch: org.apache.spark.sql.DataFrame,
        idx: TextCuration.ServingIndex, over: Long) = {
      val bound = keyRows(batch).toInt
      assert(over > bound, s"$name: $over candidates, bound $bound")
      def tiers(b: Int) = TextCuration.probedTiers(spark, batch,
        TextDedup.shingles(batch), SubstringDedup.anchors(batch), idx,
        TextCuration.IngestPrior(), None, servingCfg, b)
      assert(tiers(bound + 1000000).isDefined, name)
      assert(tiers(bound).isEmpty, name)
      def rows(b: Int) = TextCuration.servingDecisionsWithin(spark, batch,
          idx, TextCuration.IngestPrior(), servingCfg, None, None, b)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      assert(rows(bound) === rows(0), name)
    }
    val x = texts.minBy(_.length)
    // one batch doc against 300 corpus copies of it: 4 band rows each
    val copies = 300
    check("corpus copies", docsOf(Seq(4000000000L), x),
      TextCuration.buildServingIndex(spark, corpus.select(
          "doc_id", "text", "lang", "source", "n_chars")
        .unionByName(docsOf((1 to copies).map(i => 7L * (1000000000L + i) + 1), x)),
        servingCfg),
      over = 4L * copies)
    // 100 copies of one doc in the batch: 4 bands × C(100, 2) pairs
    val n = 100
    check("batch copies",
      docsOf((1 to n).map(i => 4000000000L + 4L * i), x),
      TextCuration.buildServingIndex(spark, corpus, servingCfg),
      over = 4L * n * (n - 1) / 2)
  }

  test("servingDecisions' driver-side candidate pairs are counted " +
      "bucket by bucket before any is formed") {
    val bucket = (0, "sig")
    val manyBatch = (1L to 200000L).map(_ -> bucket)
    assert(TextDedup.candidatePairsOnDriver(manyBatch, Nil, 100000L)
      .isEmpty)
    assert(TextDedup.candidatePairsOnDriver(Seq(7L -> bucket),
      (1L to 200000L).map(_ -> bucket), 100000L).isEmpty)
    val (cross, inner) = TextDedup.candidatePairsOnDriver(
      Seq(10L -> bucket, 11L -> bucket, 12L -> (1, "other")),
      Seq(3L -> bucket, 4L -> (1, "none")), 3L).get
    assert(cross === Set(10L -> 3L, 11L -> 3L))
    assert(inner === Set(10L -> 11L))
  }

  test("byte-tier scrub: hex-space stitching equals an independent " +
      "byte-splicing reference, and spans really split codepoints") {
    import org.apache.spark.sql.functions._
    val docs2 = graft.core.Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), expr("replace(text, 'e', 'é')").as("text"))
    val anch = SubstringDedup.anchorsBytes(docs2).localCheckpoint(true)
    val spans = SubstringDedup.duplicatedSpans(
      SubstringDedup.duplicatedAnchors(anch)).localCheckpoint(true)
    val spanRows = spans.collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("span_start"), r.getAs[Int]("span_end")))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sorted).toMap
    assert(spanRows.nonEmpty, "fixture must produce duplicated byte spans")
    // the engine path: spans embedded into hex space, char scrub algebra
    val hexDocs = docs2.select(col("doc_id"),
      hex(encode(col("text"), "UTF-8")).as("hx"))
    val hexSpans = spans.select(col("doc_id"),
      (col("span_start") * 2 - 1).as("span_start"),
      (col("span_end") * 2).as("span_end"))
    val engine = SubstringDedup.scrub(hexDocs, hexSpans, textCol = "hx")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text_scrubbed")).toMap
    // the reference path: splice the UTF-8 byte array directly
    val texts = docs2.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    var boundaryInsideCodepoint = 0
    texts.foreach { case (id, text) =>
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ss = spanRows.getOrElse(id, Array.empty[(Int, Int)])
      val buf = new java.io.ByteArrayOutputStream()
      var cur = 0 // 0-based next byte to keep
      ss.foreach { case (s1, e1) =>
        buf.write(bytes, cur, (s1 - 1) - cur) // spans are 1-based inclusive
        cur = math.min(e1, bytes.length)
        def isCont(i: Int) = i >= 0 && i < bytes.length &&
          (bytes(i) & 0xc0) == 0x80
        // a span boundary lands mid-codepoint when the first removed
        // byte or the first kept byte after it is a continuation byte
        if (isCont(s1 - 1) || isCont(e1)) boundaryInsideCodepoint += 1
      }
      if (cur < bytes.length) buf.write(bytes, cur, bytes.length - cur)
      val refHex = buf.toByteArray.map(b => f"${b & 0xff}%02X").mkString
      assert(engine(id) === refHex, s"doc $id byte stitch")
    }
    assert(boundaryInsideCodepoint > 0,
      "fixture must exercise spans whose cuts split an 'é' in half")
  }

  test("per-reason counters through Pipeline.runWithResult agree with " +
      "the relational aggregation; mapper-calls == corpus size") {
    import spark.implicits._
    val rows = manifest
      .select(col("doc_id"), col("reason")).as[(Long, String)]
    // named per-reason counters — the ChainedMapReduceJob accounting:
    // the mapper closes over its own Counters (accumulators registered
    // on the driver, updated exactly-once per successful task)
    val counters = new Counters(spark)
    // accumulators must be registered on the DRIVER before the closure
    // ships (an executor-side counter() call has no SparkContext):
    // pre-declare one named counter per policy reason
    Seq("benchmark_member", "exact_dup", "near_dup", "contaminated",
      "low_quality", "classifier_reject", "dup_spans", "clean")
      .foreach(r => counters.counter("reason:" + r))
    val spec = MapReduceSpecification[(Long, String), String, Long,
        (String, Long)](
      jobName = "curation-reason-count",
      input = rows,
      mapper = new Mapper[(Long, String), String, Long] {
        def map(in: (Long, String), emit: (String, Long) => Unit): Unit = {
          counters.counter("reason:" + in._2).add(1L)
          emit(in._2, 1L)
        }
      },
      reducer = new Reducer[String, Long, (String, Long)] {
        def reduce(k: String, vs: Iterator[Long],
            emit: ((String, Long)) => Unit): Unit = emit((k, vs.sum))
      })
    val res = Pipeline.runWithResult(spec)
    val fromJob = res.output.collect().toMap
    val fromSql = manifest.groupBy(col("reason")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromJob === fromSql)
    val fromCounters = counters.snapshot.collect {
      case (k, v) if k.startsWith("reason:") && v > 0 =>
        k.stripPrefix("reason:") -> v
    }
    assert(fromCounters === fromSql)
    assert(res.counters(CounterNames.MapperCalls) === manifest.count())
    assert(res.progress.stagesRunning === 0L)
  }
}
