package graft

import java.sql.Timestamp

import graft.queries.StreamingQueries
import graft.streaming.Sessionizer
import graft.streaming.Sessionizer.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkTestBase {

  test("batch streaming twins run and return rows") {
    StreamingQueries.defs.foreach { d =>
      assert(d.query(spark, sfDir).count() > 0, s"${d.name} returned no rows")
    }
  }

  test("streaming sessionizer agrees with the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = Tables.events(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(_.ts.getTime)
    val maxTs = events.map(_.ts.getTime).max
    // Sentinel advances the global watermark far past every real session's
    // gap so all sessions time out and emit before the stream ends.
    val sentinel = Event(-1L, new Timestamp(maxTs + 10 * 3600 * 1000L), -1L, "sentinel", 0.0)

    val stream = MemoryStream[Event]
    val query = Sessionizer.sessionize(spark, stream.toDF())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      // Two batches: the second's watermark (from batch one's max) must
      // flush batch-one sessions; the sentinel flushes the rest.
      val (first, second) = events.splitAt(events.length / 2)
      stream.addData(first.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(second.toIndexedSeq :+ sentinel)
      query.processAllAvailable()
      stream.addData(Seq(Event(-2L, new Timestamp(maxTs + 30 * 3600 * 1000L), -2L, "sentinel2", 0.0)))
      query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("sessions_out")
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

    val batch = StreamingQueries.defs.find(_.name == "q61_sessionize").get
      .query(spark, sfDir)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

    assert(streamed == batch,
      s"streaming vs batch sessions differ: only-streaming=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("streaming funnel state machine agrees with the batch q97") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(_.ts.getTime)

    val stream = MemoryStream[Event]
    val query = Sessionizer.funnel(spark, stream.toDF())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    try {
      val (first, second) = events.splitAt(events.length / 2)
      stream.addData(first.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    // Stage is monotone per user, so the max over update-mode emissions is
    // the final stage.
    val streamed = spark.table("funnel_out")
      .groupBy("user_id").agg(max("funnel_stage").as("funnel_stage"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val batch = StreamingQueries.defs.find(_.name == "q97_funnel").get
      .query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(streamed == batch,
      s"streaming vs batch funnel differ: only-streaming=${(streamed -- batch).take(5)} " +
        s"only-batch=${(batch -- streamed).take(5)}")
  }

  test("streaming dedup drops exact event replays") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().take(200)

    val stream = MemoryStream[Event]
    val query = Sessionizer.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      stream.addData((events ++ events ++ events.take(50)).toIndexedSeq) // replays
      query.processAllAvailable()
    } finally query.stop()

    val out = spark.table("dedup_out").select("event_id").collect().map(_.getLong(0))
    assert(out.length == 200, s"expected 200 unique events, got ${out.length}")
    assert(out.toSet.size == 200)
  }

  test("stream-static enrichment joins the broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().take(100)
    val dim = Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .withColumn("segment", pmod(col("user_id"), lit(3)))

    val stream = MemoryStream[Event]
    val query = Sessionizer.enrich(stream.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      stream.addData(events.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    val out = spark.table("enrich_out")
    assert(out.count() == 100)
    assert(out.filter(col("segment").isNull).count() == 0, "dimension join missed rows")
  }

  test("windowed counts: streaming result matches batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = Tables.events(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    val maxTs = events.map(_.ts.getTime).max
    val sentinel = Event(-1L, new Timestamp(maxTs + 10 * 3600 * 1000L), -1L, "sentinel", 0.0)

    val stream = MemoryStream[Event]
    val query = Sessionizer.windowedCounts(stream.toDF())
      .writeStream.format("memory").queryName("windows_out")
      .outputMode("append").start()
    try {
      stream.addData(events.toIndexedSeq :+ sentinel)
      query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("windows_out")
      .filter(col("event_type") =!= "sentinel")
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("h"),
        col("event_type"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed == batch, s"windowed counts differ")
  }

  test("q63 range join: every attributed event is inside its window") {
    import graft.queries.StreamingQueries
    val q63 = StreamingQueries.defs.find(_.name == "q63_range_join").get
    val out = q63.query(spark, sfDir).collect()
    assert(out.nonEmpty)
    // Re-derive the window bounds and check each reported count directly
    // with a per-window timestamp filter (the slow-but-obvious oracle).
    val ev = Tables.events(spark, sfDir).select(col("ts"), col("value"))
    out.foreach { r =>
      val h = java.sql.Timestamp.valueOf(r.getString(0))
      val lo = new java.sql.Timestamp(h.getTime - 30 * 60 * 1000L)
      val hi = new java.sql.Timestamp(h.getTime + 90 * 60 * 1000L)
      val n = ev.filter(col("ts") >= lit(lo) && col("ts") < lit(hi)).count()
      assert(n == r.getLong(1), s"window $h: grid-join count ${r.getLong(1)} != direct $n")
    }
  }

  test("q64 streaming dedup agrees with the batch twin on sorted input") {
    import spark.implicits._
    import graft.queries.StreamingQueries
    implicit val sqlCtx = spark.sqlContext

    // Event-time-sorted feed makes streaming's first-arrival-kept equal
    // the batch twin's event-time-first (see dedupSameMinute scaladoc).
    val events = Tables.events(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))

    val stream = MemoryStream[Event]
    val query = Sessionizer.dedupSameMinute(stream.toDF())
      .writeStream.format("memory").queryName("minute_dedup_out")
      .outputMode("append").start()
    try {
      stream.addData(events.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("minute_dedup_out")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val batch = StreamingQueries.defs.find(_.name == "q64_dedup_minute").get
      .query(spark, sfDir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"streaming vs batch dedup differ: only-streaming=${(streamed -- batch).take(5)} " +
        s"only-batch=${(batch -- streamed).take(5)}")
  }

  test("streaming linkage predict agrees with the batch pass per arrival") {
    import graft.functions.GraftFunctions
    import graft.linkage.LinkageCascade
    import graft.queries.LinkageQueries
    import graft.streaming.StreamingLinkage
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    GraftFunctions.register(spark)

    val census = LinkageQueries.census(spark, sfDir)
    val input = LinkageQueries.input(spark, sfDir)
    val cfg = LinkageQueries.config
    val pass = cfg.passes.find(_.name == "p1_geokey").get

    // Arrivals carry rec_ids only (the intake-queue shape); records are
    // reconstituted from the static preprocessed snapshot, then scored.
    val stream = MemoryStream[Long]
    val arrivals = stream.toDF().withColumnRenamed("value", "rec_id")
    val scored = LinkageCascade.scoredLinks(census,
      StreamingLinkage.reconstitute(arrivals, input), pass, cfg)

    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val query = scored.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out ++= StreamingLinkage.resolveBatch(df).select("pik", "rec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        ()
      }.start()
    try {
      val recIds = input.select("rec_id").distinct()
        .collect().map(_.getLong(0)).sorted
      val (first, second) = recIds.splitAt(recIds.length / 2)
      stream.addData(first.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    val batch = LinkageCascade.predict(census, input, pass, cfg)
      .select("pik", "rec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.toSet == batch,
      s"streaming vs batch predict differ: only-streaming=${(out.toSet -- batch).take(5)} " +
        s"only-batch=${(batch -- out.toSet).take(5)}")
  }

  /** Accumulated MAIN-stage links from a 5-batch replay of the input —
    * the streaming cascade contract (per micro-batch: anti-join arrivals
    * against the accumulated link state, run the 13 main search modules;
    * hhcomp/confirm defer to finalize because they condition on the
    * global link set). Built once, shared by the finalize-parity and the
    * confirm/accounting-parity tests.
    */
  private lazy val replayedMainLinks: org.apache.spark.sql.DataFrame = {
    import graft.functions.GraftFunctions
    import graft.queries.LinkageQueries
    import graft.streaming.StreamingLinkage
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    GraftFunctions.register(spark)
    val refs = LinkageQueries.cascadeRefs(spark, sfDir)
    val input = LinkageQueries.input(spark, sfDir)
    val cfg = LinkageQueries.config
    val stream = MemoryStream[Long]
    val arrivals = stream.toDF().withColumnRenamed("value", "rec_id")
    var acc: Option[DataFrame] = None
    val query = arrivals.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val prior = acc.getOrElse(input.select("rec_id").limit(0))
        val batchLinks = StreamingLinkage.cascadeMainBatch(
          refs, StreamingLinkage.reconstitute(df, input), prior, cfg)
        acc = Some(acc.fold(batchLinks)(_.unionByName(batchLinks))
          .localCheckpoint())
        ()
      }.start()
    try {
      val recIds = input.select("rec_id").distinct()
        .collect().map(_.getLong(0)).sorted
      recIds.grouped(math.max(1, (recIds.length + 4) / 5)).foreach { g =>
        stream.addData(g.toIndexedSeq)
        query.processAllAvailable()
      }
    } finally query.stop()
    acc.get
  }

  test("replaying the input in 5 batches yields exactly the batch cascade's links") {
    import graft.functions.GraftFunctions
    import graft.queries.LinkageQueries
    import graft.streaming.StreamingLinkage
    GraftFunctions.register(spark)
    val refs = LinkageQueries.cascadeRefs(spark, sfDir)
    val input = LinkageQueries.input(spark, sfDir)
    val streamed = StreamingLinkage
      .cascadeFinalize(refs, input, replayedMainLinks, LinkageQueries.config)
      .select("pik", "rec_id", "pass")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batchSet = cascadeLinks3
    assert(streamed == batchSet,
      s"streaming replay vs batch cascade differ: only-streaming=" +
        s"${(streamed -- batchSet).take(5)} only-batch=${(batchSet -- streamed).take(5)}")
  }

  test("stream-end confirm + per-pass accounting equal batch q37/q39 exactly") {
    import graft.functions.GraftFunctions
    import graft.linkage.LinkageCascade
    import graft.queries.{LinkageQueries, People}
    import graft.streaming.StreamingLinkage
    import org.apache.spark.sql.DataFrame
    GraftFunctions.register(spark)
    val refs = LinkageQueries.cascadeRefs(spark, sfDir)
    val input = LinkageQueries.input(spark, sfDir)
    val cfg = LinkageQueries.config
    // q37's deceased exclusion list (k%89), mirrored exactly.
    val deceased = People.persons(spark, sfDir)
      .filter(pmod(col("k"), lit(89)) === 0).select(col("k").as("pik"))

    def keyed(df: DataFrame): Set[(Long, Long, String)] =
      df.select("pik", "rec_id", "pass")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    val streamConfirmed = StreamingLinkage.cascadeFinalizeConfirmed(
      refs, input, replayedMainLinks, cfg, deceased).localCheckpoint()
    val batchAll = LinkageCascade.run(refs, input, cfg).localCheckpoint()
    val batchConfirmed = LinkageCascade.confirm(batchAll, deceased)

    val sc = keyed(streamConfirmed)
    val bc = keyed(batchConfirmed)
    assert(sc == bc,
      s"streamed confirm vs batch q37 differ: only-stream=${(sc -- bc).take(5)} " +
        s"only-batch=${(bc -- sc).take(5)}")
    // The confirm pass must actually drop links at this SF, or the parity
    // case is vacuous.
    assert(keyed(batchAll) != bc, "deceased anti-join dropped no links")

    // Per-pass accounting parity: the streamed report over the replay's
    // finalized links equals the batch q39 report row-for-row.
    def report(links: DataFrame): Set[(String, Long, Long, Long, Double, Double)] =
      StreamingLinkage.passAccounting(links, input)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getDouble(5))).toSet
    val streamFinalized = StreamingLinkage.cascadeFinalize(
      refs, input, replayedMainLinks, cfg)
    assert(report(streamFinalized) == report(batchAll),
      "streamed per-pass accounting differs from the batch q39 report")
  }

  test("stream-end movers/zip3/maf modules equal batch q128/q129/q130 exactly") {
    import graft.functions.GraftFunctions
    import graft.queries.LinkageQueries
    import graft.streaming.StreamingLinkage
    import org.apache.spark.sql.DataFrame
    GraftFunctions.register(spark)
    val refs = LinkageQueries.cascadeRefs(spark, sfDir)
    val input = LinkageQueries.input(spark, sfDir)
    val all = StreamingLinkage.cascadeFinalizeAllModules(
      refs,
      LinkageQueries.census(spark, sfDir),
      LinkageQueries.geobase(spark, sfDir),
      LinkageQueries.mafFrame(spark, sfDir),
      input, replayedMainLinks, LinkageQueries.config,
      LinkageQueries.moversPass, LinkageQueries.zip3AdjPasses,
      LinkageQueries.mafPass)
    val moduleNames = (LinkageQueries.moversPass.name +:
      LinkageQueries.mafPass.name +:
      LinkageQueries.zip3AdjPasses.map(_.name)).toSet
    def keyed(df: DataFrame): Set[(Long, Long, String)] =
      df.select("pik", "rec_id", "pass")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val streamed = keyed(all.filter(col("pass").isin(moduleNames.toSeq: _*)))
    def batchQ(name: String): Set[(Long, Long, String)] = keyed(
      LinkageQueries.defs.find(_.name == name).get.query(spark, sfDir))
    val batch = batchQ("q128_movers") ++ batchQ("q129_zip3_adjacency") ++
      batchQ("q130_mafmatch")
    assert(streamed == batch,
      s"finalize modules vs batch q128∪q129∪q130 differ: only-stream=" +
        s"${(streamed -- batch).take(5)} only-batch=${(batch -- streamed).take(5)}")
    // Each MODULE must contribute links at this SF or the parity is
    // vacuous (q129's second pass is empty at test SF in batch too —
    // z1 recovers the whole planted class — so zip3 checks pass-union).
    val zip3Names = LinkageQueries.zip3AdjPasses.map(_.name).toSet
    Seq(
      "movers" -> Set(LinkageQueries.moversPass.name),
      "zip3" -> zip3Names,
      "maf" -> Set(LinkageQueries.mafPass.name)
    ).foreach { case (label, names) =>
      assert(streamed.exists(l => names.contains(l._3)),
        s"module $label produced no links")
    }
  }

  /** The batch cascade's (pik, rec_id, pass) set at sfDir — the parity
    * target for the streaming replay.
    */
  private lazy val cascadeLinks3: Set[(Long, Long, String)] = {
    import graft.functions.GraftFunctions
    import graft.linkage.LinkageCascade
    import graft.queries.LinkageQueries
    GraftFunctions.register(spark)
    LinkageCascade.run(LinkageQueries.cascadeRefs(spark, sfDir),
        LinkageQueries.input(spark, sfDir), LinkageQueries.config)
      .select("pik", "rec_id", "pass")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
  }

  test("streaming incremental EMBEDDING dedup agrees with the batch q123 probe") {
    import graft.operators.VectorOps
    import graft.queries.PipelineQueries
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)

    // The corpus index: centroids derived like the batch query (over the
    // full frame, so parity with q123 is exact) and the corpus's hard
    // cell assignments — at scale a bucketed table on (label, cid).
    val all = PipelineQueries.embWithDups(spark, sfDir)
      .withColumn("nrm", VectorOps.norm(col("embedding")))
    val cents = PipelineQueries.ivfCentroids(all).cache()
    val corpus = all.filter($"vec_id" < 100000L).cache()
    val corpusCells = PipelineQueries.cellAssignments(corpus, cents, probes = 1)
      .select($"vec_id".as("corpus_id"), $"label", $"cid").cache()

    val stream = MemoryStream[(Long, Int, Array[Float])]
    val arrivals = stream.toDF().toDF("vec_id", "label", "embedding")

    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val query = arrivals.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out ++= StreamingDedup.embMatchesBatch(cents, corpusCells, corpus, df)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        ()
      }.start()
    try {
      val newVecs = all.filter($"vec_id" >= 100000L)
        .select("vec_id", "label", "embedding")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
        .sortBy(_._1)
      val (first, second) = newVecs.splitAt(newVecs.length / 2)
      stream.addData(first.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    val batch = PipelineQueries.defs
      .find(_.name == "q123_incremental_embedding_dedup").get
      .query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    assert(out.toSet == batch,
      s"streaming vs batch incremental embedding dedup differ: " +
        s"only-streaming=${(out.toSet -- batch).take(5)} " +
        s"only-batch=${(batch -- out.toSet).take(5)}")
    corpusCells.unpersist(); corpus.unpersist(); cents.unpersist()
    ()
  }

  test("streaming incremental LSH dedup agrees with the batch q100 probe") {
    import graft.queries.PipelineQueries
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = PipelineQueries.docsWithDups(spark, sfDir).select("doc_id", "text")
    // The corpus band index is built once (at scale: a bucketed table on
    // (band, v1, v2)); only arrivals are signatured per micro-batch.
    val corpusBands = PipelineQueries
      .bandRowsFor(docs.filter($"doc_id" < 100000L)).cache()

    val stream = MemoryStream[(Long, String)]
    val arrivals = stream.toDF().toDF("doc_id", "text")

    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val query = arrivals.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out ++= StreamingDedup.matchesBatch(corpusBands, df)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        ()
      }.start()
    try {
      val newDocs = docs.filter($"doc_id" >= 100000L)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val (first, second) = newDocs.splitAt(newDocs.length / 2)
      stream.addData(first.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    val batch = PipelineQueries.defs.find(_.name == "q100_incremental_lsh").get
      .query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.toSet == batch,
      s"streaming vs batch incremental LSH differ: " +
        s"only-streaming=${(out.toSet -- batch).take(5)} " +
        s"only-batch=${(batch -- out.toSet).take(5)}")
    corpusBands.unpersist()
    ()
  }

  test("streaming winnow overlap detection agrees with the batch q134 cross pairs") {
    import graft.queries.PipelineQueries
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)

    // The same quote-planted texts q134 fingerprints, split at the median
    // id into a static corpus and an arriving stream.
    val docs2 = Tables.documents(spark, sfDir).select(col("doc_id"),
      concat(col("text"),
        PipelineQueries.winnowQuote(col("doc_id"))).as("text"))
    val boundary = docs2.agg(expr("percentile(doc_id, 0.5)")).head.getDouble(0)
    val corpus = docs2.filter(col("doc_id") < boundary).cache()
    val fpsIdx = StreamingDedup.winnowIndex(corpus).cache()

    val stream = MemoryStream[(Long, String)]
    val arrivals = stream.toDF().toDF("doc_id", "text")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val query = arrivals.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out ++= StreamingDedup.winnowMatchesBatch(fpsIdx, corpus, df)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        ()
      }.start()
    try {
      val newDocs = docs2.filter(col("doc_id") >= boundary)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val (first, second) = newDocs.splitAt(newDocs.length / 2)
      stream.addData(first.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    val batch = PipelineQueries.defs.find(_.name == "q134_winnow_dedup").get
      .query(spark, sfDir)
      .filter(col("doc_a") < boundary && col("doc_b") >= boundary)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(out.toSet == batch,
      s"streaming vs batch winnow overlap differ: " +
        s"only-streaming=${(out.toSet -- batch).take(3)} " +
        s"only-batch=${(batch -- out.toSet).take(3)}")
    fpsIdx.unpersist(); corpus.unpersist()
    ()
  }

  test("streaming DSIR keep decisions agree with the batch q133 selection") {
    import graft.queries.PipelineQueries
    import graft.streaming.StreamingSelect
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    // Fit once on the reference corpus — the same (target, pool,
    // keep-rate) configuration the batch q133 uses.
    val (model, thr) =
      StreamingSelect.dsirFit(docs, col("source") === "src1", 1, 10)

    val stream = MemoryStream[(Long, String, String, String)]
    val arrivals = stream.toDF().toDF("doc_id", "text", "lang", "source")

    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long, Double)]
    val query = arrivals.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out ++= StreamingSelect.keepBatch(model, thr, df)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getLong(3), r.getDouble(4)))
        ()
      }.start()
    try {
      val pool = docs.filter(col("source") =!= "src1")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
        .sortBy(_._1)
      val (first, second) = pool.splitAt(pool.length / 2)
      stream.addData(first.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    val batch = PipelineQueries.defs.find(_.name == "q133_dsir_select").get
      .query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(batch.nonEmpty)
    assert(out.toSet == batch,
      s"streaming vs batch DSIR selection differ: " +
        s"only-streaming=${(out.toSet -- batch).take(3)} " +
        s"only-batch=${(batch -- out.toSet).take(3)}")
    ()
  }

  test("streaming URL frontier probe agrees with the batch canonical join under replay") {
    import graft.queries.PipelineQueries
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val urls = PipelineQueries.syntheticUrls(
      Tables.documents(spark, sfDir)).localCheckpoint()
    val cut = 250L
    val corpus = urls.filter(col("doc_id") < cut)
    val index = StreamingDedup.urlIndex(corpus).localCheckpoint()
    val stream = MemoryStream[(Long, String)]
    val arrivals = stream.toDF().toDF("doc_id", "url_raw")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val query = arrivals.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out ++= StreamingDedup.urlMatchesBatch(index, df)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        ()
      }.start()
    try {
      val rows = urls.filter(col("doc_id") >= cut).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      rows.grouped(math.max(1, (rows.length + 2) / 3)).foreach { g =>
        stream.addData(g.toIndexedSeq)
        query.processAllAvailable()
      }
    } finally query.stop()
    val batch = StreamingDedup.urlMatchesBatch(
        index, urls.filter(col("doc_id") >= cut))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(batch.nonEmpty, "no recrawl matches planted across the corpus cut")
    assert(out.toSet == batch,
      s"streaming vs batch URL frontier differ: " +
        s"only-streaming=${(out.toSet -- batch).take(3)} " +
        s"only-batch=${(batch -- out.toSet).take(3)}")
  }

  test("streaming BM25 standing-query scores agree with the batch scoring under replay") {
    import graft.queries.PipelineQueries
    import graft.streaming.StreamingSelect
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // Standing queries + corpus model are FITTED once, like DSIR/BPE.
    val (qt, stats) = StreamingSelect.bm25Fit(docs)
    val stream = MemoryStream[(Long, String)]
    val arrivals = stream.toDF().toDF("doc_id", "text")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val query = arrivals.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out ++= StreamingSelect.bm25ScoreBatch(qt, stats, df)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        ()
      }.start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      rows.grouped(math.max(1, (rows.length + 2) / 3)).foreach { g =>
        stream.addData(g.toIndexedSeq)
        query.processAllAvailable()
      }
    } finally query.stop()
    val (tf, dl) = PipelineQueries.bm25DocTf(docs)
    val batch = PipelineQueries.bm25Score(tf, dl, qt, stats)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty)
    assert(out.toSet == batch,
      s"streaming vs batch BM25 scores differ: " +
        s"only-streaming=${(out.toSet -- batch).take(3)} " +
        s"only-batch=${(batch -- out.toSet).take(3)}")
  }

  test("streaming temperature-mix sampling agrees with the batch q151 under replay") {
    import graft.queries.PipelineQueries
    import graft.streaming.StreamingSelect
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    // Rates are FITTED once on the corpus, like the DSIR/BPE/BM25 twins.
    val rates = StreamingSelect.mixFit(docs)
    val stream = MemoryStream[(Long, String, String)]
    val arrivals = stream.toDF().toDF("doc_id", "text", "lang")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val query = arrivals.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out ++= StreamingSelect.mixSampleBatch(rates, df)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        ()
      }.start()
    try {
      val rows = docs.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1)
      rows.grouped(math.max(1, (rows.length + 2) / 3)).foreach { g =>
        stream.addData(g.toIndexedSeq)
        query.processAllAvailable()
      }
    } finally query.stop()
    val batch = PipelineQueries.defs.find(_.name == "q151_mix_temperature").get
      .query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(out.toSet == batch,
      s"streaming vs batch temperature mix differ: " +
        s"only-streaming=${(out.toSet -- batch).take(3)} " +
        s"only-batch=${(batch -- out.toSet).take(3)}")
  }

  test("streaming BPE token counts agree with the batch q135 under replay") {
    import graft.operators.Bpe
    import graft.queries.PipelineQueries
    import graft.streaming.StreamingSelect
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // The tokenizer is FITTED once (offline), like the DSIR model.
    val merges = Bpe.mergesFor(spark, sfDir)
    val stream = MemoryStream[(Long, String)]
    val arrivals = stream.toDF().toDF("doc_id", "text")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val query = arrivals.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out ++= StreamingSelect.bpeCountsBatch(merges, df)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        ()
      }.start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      rows.grouped(math.max(1, (rows.length + 2) / 3)).foreach { g =>
        stream.addData(g.toIndexedSeq)
        query.processAllAvailable()
      }
    } finally query.stop()
    val batch = PipelineQueries.defs.find(_.name == "q135_bpe_tokenize").get
      .query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(out.toSet == batch,
      s"streaming vs batch BPE counts differ: " +
        s"only-streaming=${(out.toSet -- batch).take(3)} " +
        s"only-batch=${(batch -- out.toSet).take(3)}")
  }

  test("stream-stream attribution join agrees with the batch q103") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))

    val stream = MemoryStream[Event]
    val src = stream.toDF()
    // Self-join of one stream split by type — the two watermarked sides of
    // the interval join share a single source, which Spark supports.
    val joined = Sessionizer.attributeClicks(
      src.filter(col("event_type") === "click"),
      src.filter(col("event_type") === "view"))
    val query = joined.writeStream.format("memory").queryName("attrib_out")
      .outputMode("append").start()
    try {
      val (first, second) = events.splitAt(events.length / 2)
      stream.addData(first.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("attrib_out")
      .select("click_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = StreamingQueries.defs.find(_.name == "q103_click_attribution").get
      .query(spark, sfDir)
      .select("click_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"stream-stream vs batch attribution differ: " +
        s"only-streaming=${(streamed -- batch).take(5)} " +
        s"only-batch=${(batch -- streamed).take(5)}")
  }

  test("left-outer stream-stream attribution agrees with the batch q111") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val maxTs = events.map(_.ts.getTime).max
    // Outer rows emit only when the watermark proves the click's window
    // closed; the sentinels push the watermark far past every real click.
    val s1 = Event(-1L, new Timestamp(maxTs + 10 * 3600 * 1000L), -1L, "view", 0.0)
    val s2 = Event(-2L, new Timestamp(maxTs + 40 * 3600 * 1000L), -2L, "click", 0.0)

    val stream = MemoryStream[Event]
    val src = stream.toDF()
    val joined = Sessionizer.attributeClicks(
      src.filter(col("event_type") === "click"),
      src.filter(col("event_type") === "view"),
      joinType = "leftOuter")
    val query = joined.writeStream.format("memory").queryName("attrib_outer_out")
      .outputMode("append").start()
    try {
      val (first, second) = events.splitAt(events.length / 2)
      stream.addData(first.toIndexedSeq)
      query.processAllAvailable()
      stream.addData(second.toIndexedSeq :+ s1)
      query.processAllAvailable()
      stream.addData(Seq(s2))
      query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("attrib_outer_out")
      .filter(col("user_id") >= 0)
      .select(col("click_id"),
        coalesce(col("view_id"), lit(-1L)).as("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = StreamingQueries.defs.find(_.name == "q111_attribution_outer").get
      .query(spark, sfDir)
      .select(col("click_id"), coalesce(col("view_id"), lit(-1L)).as("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"outer stream-stream vs batch differ: " +
        s"only-streaming=${(streamed -- batch).take(5)} " +
        s"only-batch=${(batch -- streamed).take(5)}")
  }

  test("q69 sketches bound the exact answers") {
    import graft.queries.StreamingQueries
    val approx = StreamingQueries.defs.find(_.name == "q69_sketch_stats").get
      .query(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("users"),
        expr("percentile(value, 0.5)").as("median"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (tpe, (n, users, median)) =>
      val (an, aUsers, aMedian) = approx(tpe)
      assert(an == n, s"$tpe: plain count must be exact")
      // HLL++ at rsd=0.05: allow 3 standard deviations.
      assert(math.abs(aUsers - users) <= math.max(3, 0.15 * users),
        s"$tpe: approx users $aUsers vs exact $users out of bounds")
      // t-digest median of a smooth value distribution: within 10% of
      // the exact median's magnitude (values span ~[0, 100]).
      assert(math.abs(aMedian - median) <= math.max(1.0, 0.10 * math.abs(median)),
        s"$tpe: approx median $aMedian vs exact $median out of bounds")
    }
  }

  test("streaming image dedup agrees with the batch q157 probe") {
    import graft.operators.Multimodal
    import graft.queries.PipelineQueries
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.Dataset
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // The corpus signature-class index is built once (at scale: reps +
    // banded distinct-sig keys as bucketed tables); arrivals (the minted
    // variant/copy images) are decoded + dHashed per micro-batch with
    // the shared kernel.
    val baseIds = Tables.documents(spark, sfDir).select("doc_id")
    val corpusSigs = PipelineQueries.imageDhashSigs(spark, sfDir)
      .join(baseIds, Seq("doc_id"), "left_semi").cache()

    val stream = MemoryStream[Multimodal.MediaRecord]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val query = stream.toDS().writeStream.outputMode("append")
      .foreachBatch { (ds: Dataset[Multimodal.MediaRecord], _: Long) =>
        out ++= StreamingDedup.imageMatchesBatch(corpusSigs, ds)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        ()
      }.start()
    try {
      // Single-batch replay: the probe-time combined hub cap sees the
      // same occupancy as the batch rule, so equality is EXACT (the
      // cross-batch under-count near the cap is the documented bound,
      // same as the winnow variant).
      val newRecs = PipelineQueries.imageRecordsWithDups(spark, sfDir)
        .join(baseIds, Seq("doc_id"), "left_anti")
        .as[Multimodal.MediaRecord]
        .collect().sortBy(_.doc_id)
      stream.addData(newRecs.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    val batch = PipelineQueries.defs
      .find(_.name == "q157_incremental_image_dedup").get
      .query(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(batch.nonEmpty)
    assert(out.toSet == batch,
      s"streaming vs batch incremental image dedup differ: " +
        s"only-streaming=${(out.toSet -- batch).take(5)} " +
        s"only-batch=${(batch -- out.toSet).take(5)}")
    corpusSigs.unpersist()
    ()
  }
}
