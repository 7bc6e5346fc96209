package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming parity: the same tumbling-window aggregation run
  * through readStream → writeStream(memory) must equal the batch result
  * (SURVEY.md §2.11 — the streaming surface is a strict extension, so the
  * batch query is its own oracle).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("streaming tumbling window equals batch window") {
    // readStream requires a DIRECTORY of files; stage the single events
    // parquet file into a temp dir (round 1 pointed at the file itself and
    // the test never ran)
    val stageDir = java.nio.file.Files.createTempDirectory("graft-stream-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSession.sf}/events.parquet"),
      stageDir.resolve("events.parquet"))
    val batchRaw = spark.read.parquet(stageDir.toString)
    val stream = spark.readStream.schema(batchRaw.schema).parquet(stageDir.toString)

    def normalize(df: org.apache.spark.sql.DataFrame) = {
      Tables.normalizeEventTs(df)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total_value"))
    }

    val q = normalize(stream).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_out")
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val streaming = spark.table("stream_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = normalize(batchRaw).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streaming == batch)
    assert(streaming.nonEmpty)
  }

  test("mapGroupsWithState running count equals batch groupBy count") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    val stageDir = java.nio.file.Files.createTempDirectory("graft-stream-state")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSession.sf}/events.parquet"),
      stageDir.resolve("events.parquet"))
    val batchRaw = spark.read.parquet(stageDir.toString)
    val toTyped = (df: org.apache.spark.sql.DataFrame) => {
      Tables.normalizeEventTs(df)
        .select(col("user_id"), col("ts"), col("value"))
        .as[graft.streaming.Ev]
    }
    // custom per-key state: running event count via mapGroupsWithState —
    // the KeyValueGroupedDataset custom-state surface the brief names
    val counts = toTyped(
      spark.readStream.schema(batchRaw.schema).parquet(stageDir.toString))
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[graft.streaming.Ev],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + evs.size
          state.update(next)
          (uid, next)
      }
    val q = counts.writeStream
      .outputMode("update").format("memory").queryName("state_out").start()
    try q.processAllAvailable()
    finally q.stop()
    // last update per user must equal the batch count
    val streaming = spark.table("state_out").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    val batch = toTyped(batchRaw).groupByKey(_.user_id).count().collect().toMap
    assert(streaming == batch)
    assert(streaming.nonEmpty)
  }

  test("streaming session_window equals the batch session window") {
    val stageDir = java.nio.file.Files.createTempDirectory("graft-stream-session")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSession.sf}/events.parquet"),
      stageDir.resolve("events.parquet"))
    val batchRaw = spark.read.parquet(stageDir.toString)
    val stream = spark.readStream.schema(batchRaw.schema).parquet(stageDir.toString)

    def sessions(df: org.apache.spark.sql.DataFrame) =
      Tables.normalizeEventTs(df)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .select(col("session_window.start").as("ss"), col("user_id"),
          col("n"), col("total_value"))

    val q = sessions(stream).writeStream
      .outputMode("complete").format("memory").queryName("session_out").start()
    try q.processAllAvailable()
    finally q.stop()

    val streaming = spark.table("session_out").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = sessions(batchRaw).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streaming == batch)
    assert(streaming.nonEmpty)
  }

  test("flatMapGroupsWithState sessionizer equals the batch secondary-sort walk") {
    import spark.implicits._
    val stageDir = java.nio.file.Files.createTempDirectory("graft-stream-fmgws")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSession.sf}/events.parquet"),
      stageDir.resolve("events.parquet"))
    val batchRaw = spark.read.parquet(stageDir.toString)
    val typedEvents = (df: org.apache.spark.sql.DataFrame) =>
      Tables.normalizeEventTs(df)
        .select(col("user_id"), col("ts"), col("value")).as[graft.streaming.Ev]

    val sessions = graft.streaming.EventOps.streamingSessionize(
      typedEvents(spark.readStream.schema(batchRaw.schema).parquet(stageDir.toString)),
      gapMinutes = 20, lateness = "0 seconds")
    val q = sessions.writeStream
      .outputMode("append").format("memory").queryName("fmgws_out").start()
    try {
      q.processAllAvailable()
      // flush: every real session must CLOSE, which needs the watermark to
      // pass lastTs + gap. Two sentinel batches per the watermark contract
      // (batch N runs with the watermark computed from batches < N): +10d
      // events advance it past every real timeout, +20d makes them fire.
      // Sentinels reuse fixture rows (one per user) so the appended files
      // keep the staged schema byte-compatible.
      val maxTs = maxRealStart(batchRaw)
      val tsType = batchRaw.schema(batchRaw.schema.fieldIndex("ts")).dataType
      def sentinel(offsetDays: Int): Unit = {
        batchRaw.dropDuplicates("user_id")
          .withColumn("ts",
            lit(new java.sql.Timestamp(maxTs + offsetDays * 86400000L)).cast(tsType))
          .coalesce(1).write.mode("append").parquet(stageDir.toString)
        q.processAllAvailable()
      }
      sentinel(10); sentinel(20)
    } finally q.stop()

    val cutoff = maxRealStart(batchRaw) // any real session starts at/before the fixture max
    val streaming = spark.table("fmgws_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        math.rint(r.getDouble(3) * 100) / 100))
      .filter(_._2.getTime <= cutoff).toSet
    val batch = SparkEntry.queries("ev_custom_sessionize")(spark, TestSession.sf)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(streaming == batch)
    assert(streaming.size > 10)
  }

  private def maxRealStart(batchRaw: org.apache.spark.sql.DataFrame): Long =
    Tables.normalizeEventTs(batchRaw)
      .agg(max(col("ts"))).collect().head.getTimestamp(0).getTime

  test("watermark drops events later than the allowed lateness (append mode)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-late")
    def writeBatch(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("user_id", "ts_s", "value")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .coalesce(1).write.mode("append").parquet(dir.toString)

    // batch 1: three rows in the 10:00 window, plus a 12:05 row that
    // advances the watermark to 11:05 (> the 10:00 window's end)
    writeBatch(Seq(
      (1L, "2026-01-01 10:10:00", 1.0), (1L, "2026-01-01 10:20:00", 1.0),
      (2L, "2026-01-01 10:40:00", 1.0), (1L, "2026-01-01 12:05:00", 1.0)))
    val schema = spark.read.parquet(dir.toString).schema
    val agg = spark.readStream.schema(schema).parquet(dir.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE row into the closed 10:00 window (watermark is
      // 11:05) must be DROPPED; the 13:10 row advances the watermark so
      // the finalized 10:00 window is emitted
      writeBatch(Seq(
        (3L, "2026-01-01 10:30:00", 1.0), (1L, "2026-01-01 13:10:00", 1.0)))
      q.processAllAvailable()
      // one more batch so every window at or before 12:00 finalizes
      writeBatch(Seq((1L, "2026-01-01 15:00:00", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late_out").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(out("2026-01-01 10:00:00.0") == 3L,
      s"late 10:30 row must NOT be counted into the closed window: $out")
  }

  test("stream-stream interval join equals the batch interval join") {
    // two watermarked readStreams over the same staged events dir,
    // views inner-joined to same-user clicks in the next 30 minutes —
    // the state-bounded stream-stream join surface; pair set must equal
    // the batch twin ev_interval_join's
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ssjoin")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSession.sf}/events.parquet"),
      dir.resolve("events.parquet"))
    val raw = spark.read.parquet(dir.toString)
    def stream() = Tables.normalizeEventTs(
      spark.readStream.schema(raw.schema).parquet(dir.toString))
    val views = stream().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = views.join(clicks,
      expr("v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 30 minutes"))
      .select(col("view_id"), col("click_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out").start()
    try q.processAllAvailable()
    finally q.stop()
    val streaming = spark.table("ssjoin_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Tables.register(spark, TestSession.sf)
    val batch = SparkEntry.queries("ev_interval_join")(spark, TestSession.sf)
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streaming == batch, s"stream pairs ${streaming.size} != batch ${batch.size}")
    assert(streaming.nonEmpty)
  }

  test("left-outer stream-stream join emits unmatched views after the watermark passes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-lojoin")
    def writeBatch(rows: Seq[(Long, Long, String, String)]): Unit =
      rows.toDF("event_id", "user_id", "event_type", "ts_s")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .coalesce(1).write.mode("append").parquet(dir.toString)
    // batch 1: user 1's view gets a click inside the 30-minute window;
    // user 2's view never does
    writeBatch(Seq(
      (100L, 1L, "view", "2026-01-01 10:00:00"),
      (200L, 2L, "view", "2026-01-01 10:05:00"),
      (101L, 1L, "click", "2026-01-01 10:10:00")))
    val schema = spark.read.parquet(dir.toString).schema
    // watermark BEFORE the type filter: the join's eviction watermark is
    // the MIN across both inputs, and a post-filter watermark on the
    // click branch would freeze at the last click ever seen — any event
    // must advance both sides
    def stream() = spark.readStream.schema(schema).parquet(dir.toString)
      .withWatermark("ts", "10 minutes")
    val views = stream().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val joined = views.join(clicks,
      expr("v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 30 minutes"),
      "left_outer")
      .select(col("view_id"), col("click_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("lojoin_out").start()
    try {
      q.processAllAvailable()
      // batch 2: far-future events on BOTH streams advance the join
      // watermark (it is the MIN across the two sides — a side that goes
      // quiet pins it, so real pipelines keep heartbeats flowing) well
      // past user 2's join window; batch 3 triggers the eviction pass
      // that emits the null-extended row (state cleanup runs a batch
      // behind the watermark advance)
      writeBatch(Seq((900L, 9L, "view", "2026-01-01 20:00:00"),
        (902L, 8L, "click", "2026-01-01 20:00:00")))
      q.processAllAvailable()
      writeBatch(Seq((901L, 9L, "view", "2026-01-01 23:00:00"),
        (903L, 8L, "click", "2026-01-01 23:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("lojoin_out").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(out.contains((100L, 101L)), s"matched pair missing: $out")
    assert(out.contains((200L, -1L)),
      s"unmatched view must emit null-extended after watermark passage: $out")
    assert(!out.exists(_._1 == 901L),
      s"the last view's window is still open — it must not emit yet: $out")
  }

  test("streaming dropDuplicates collapses an at-least-once feed to exactly-once") {
    // the streaming face of ev_stream_dedup: stage the events file plus a
    // "redelivered" copy of every 7th event (two files in one source dir —
    // the duplicates arrive like a real at-least-once replay), then
    // withWatermark + dropDuplicates(event_id) must reproduce the
    // original exactly-once id set
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSession.sf}/events.parquet"),
      dir.resolve("events.parquet"))
    // duplicate from the RAW file (ts stays the nanos-long physical type)
    // so both staged files share one parquet schema
    val rawBase = spark.read.parquet(s"${TestSession.sf}/events.parquet")
    rawBase.filter(col("event_id") % 7 === 0)
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val base = Tables.load(spark, TestSession.sf, "events")

    val raw = spark.read.parquet(dir.toString)
    val feedCount = raw.count()
    val baseCount = base.count()
    assert(feedCount > baseCount, "staged feed must actually contain duplicates")

    val deduped = Tables.normalizeEventTs(
      spark.readStream.schema(raw.schema).parquet(dir.toString))
      .withWatermark("ts", "24 hours")
      .dropDuplicates("event_id")
      .select("event_id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable()
    finally q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "stream emitted a duplicate id")
    val expected = base.select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids.toSet == expected,
      s"deduped stream ids (${ids.length}) != original exactly-once set (${expected.size})")
  }

  test("streaming near-dup ingestion equals the batch incremental new-old pairs") {
    import graft.operators.TextOps
    // historical corpus = even doc_ids (same split as the batch
    // incremental pipeline); the odd half arrives as a stream
    val docs = Tables.load(spark, TestSession.sf, "documents")
      .select(col("doc_id"), col("text"))
    val evenDocs = docs.filter(col("doc_id") % 2 === 0)
    val oddDir = java.nio.file.Files.createTempDirectory("graft-stream-neardup")
    docs.filter(col("doc_id") % 2 === 1).coalesce(2)
      .write.mode("overwrite").parquet(oddDir.toString)
    val indexDir = java.nio.file.Files.createTempDirectory("graft-stream-lshidx")
    TextOps.bandedDocKeys(evenDocs).write.mode("overwrite").parquet(indexDir.toString)
    val raw = spark.read.parquet(oddDir.toString)
    val stream = spark.readStream.schema(raw.schema).parquet(oddDir.toString)
    val out = TextOps.streamingMinhashPairs(
      stream, evenDocs, spark.read.parquet(indexDir.toString))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    try q.processAllAvailable()
    finally q.stop()
    val streaming = spark.table("neardup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch twin restricted to new(odd) ↔ old(even) pairs — the stream
    // only probes the historical index, never itself
    Tables.register(spark, TestSession.sf)
    val batch = SparkEntry.queries("dd_incremental_minhash")(spark, TestSession.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => (p._1 % 2 == 0) != (p._2 % 2 == 0)).toSet
    assert(streaming == batch,
      s"streaming pairs (${streaming.size}) != batch new-old pairs (${batch.size})")
    assert(streaming.nonEmpty)
  }

  test("streaming bloom-prefilter dedup equals the batch day-N result") {
    import graft.operators.TextOps
    val docs = Tables.load(spark, TestSession.sf, "documents")
    val batchDf = TextOps.dayNBatch(docs)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-bloom")
    batchDf.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val out = TextOps.streamingBloomDedup(
      spark.readStream.schema(schema).parquet(dir.toString), docs)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("bloom_stream_out").start()
    try q.processAllAvailable()
    finally q.stop()
    // the stream emits one row per (new doc, corpus match); aggregate
    // driver-side to the batch pipeline's (doc, dup_of, n_copies) shape
    val streaming = spark.table("bloom_stream_out").collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => (id, rs.map(_.getLong(1)).min, rs.length.toLong) }
      .toSet
    val batch = TextOps.bloomPrefilterDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streaming == batch,
      s"streaming dedup (${streaming.size}) != batch (${batch.size})")
    assert(streaming.nonEmpty)
  }

  test("streaming chunking equals batch chunking (both variants)") {
    // chunking is stateless map-side, so the SAME CurationOps methods
    // run unchanged over a readStream source in append mode with no
    // watermark — pin that documents arriving as a stream produce the
    // identical (doc, chunk, md5) set as the batch table
    import graft.operators.CurationOps
    val docs = Tables.load(spark, TestSession.sf, "documents")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-chunk")
    docs.coalesce(2).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    for ((label, f) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "chars" -> CurationOps.chunkOverlap, "tokens" -> CurationOps.chunkTokens)) {
      val out = f(spark.readStream.schema(schema).parquet(dir.toString))
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(s"chunk_stream_$label").start()
      try q.processAllAvailable()
      finally q.stop()
      val streaming = spark.table(s"chunk_stream_$label").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet
      val batch = f(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet
      assert(streaming == batch,
        s"$label: streaming chunks (${streaming.size}) != batch (${batch.size})")
      assert(streaming.nonEmpty)
    }
  }

  /** The ingest stream: redelivery dedup on event_id, then the 20-minute
    * sessionizer (the batch twin's gap) into a checkpointed parquet sink.
    * The lateness outlasts every fixture timestamp, so no real event is
    * late and only a sentinel far past the data closes the last sessions.
    */
  private def startIngest(src: java.nio.file.Path, base: java.nio.file.Path,
      schema: org.apache.spark.sql.types.StructType) = {
    import spark.implicits._
    java.nio.file.Files.createDirectories(src)
    val events = Tables.normalizeEventTs(spark.readStream.schema(schema).parquet(src.toString))
      .dropDuplicates("event_id")
      .select(col("user_id"), col("ts"), col("value")).as[graft.streaming.Ev]
    graft.streaming.EventOps.streamingSessionize(events, 20, "30000 days")
      .writeStream.format("parquet")
      .option("checkpointLocation", base.resolve("checkpoint").toString)
      .option("path", base.resolve("sink").toString)
      .outputMode("append").start()
  }

  /** The fixture's events as two stream files split at the middle of its
    * time range. The second also redelivers every 7th event of both
    * halves and carries one sentinel event 40000 days past the data.
    */
  private def ingestFiles(base: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val events = Tables.load(spark, TestSession.sf, "events")
    val range = events.agg(min("ts"), max("ts")).head()
    val (lo, hi) = (range.getTimestamp(0).getTime, range.getTimestamp(1).getTime)
    val cut = new java.sql.Timestamp(lo + (hi - lo) / 2)
    val sentinel = events.limit(1)
      .withColumn("event_id", lit(-1L))
      .withColumn("ts", lit(new java.sql.Timestamp(hi + 40000L * 86400000L)))
    Seq(events.filter(col("ts") < cut),
      events.filter(col("ts") >= cut)
        .unionByName(events.filter(col("event_id") % 7 === 0)).unionByName(sentinel))
      .zipWithIndex.map { case (df, i) =>
        val dir = base.resolve(s"file-$i")
        df.coalesce(1).write.parquet(dir.toString)
        dir.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
      }
  }

  private def deliver(file: java.nio.file.Path, src: java.nio.file.Path): Unit =
    java.nio.file.Files.copy(file, src.resolve(file.getFileName))

  private def stateProgress(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.recentProgress.filter(_.numInputRows > 0).toSeq.flatMap(_.stateOperators.toSeq)

  private def sessionRows(sink: java.nio.file.Path) =
    spark.read.parquet(sink.toString).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        math.rint(r.getDouble(3) * 100) / 100)).toSet

  test("a new checkpoint gives every stateful operator one state partition per core") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream-cores")
    val files = ingestFiles(base)
    val q = startIngest(base.resolve("src"), base, spark.read.parquet(files.head.toString).schema)
    try {
      deliver(files.head, base.resolve("src"))
      q.processAllAvailable()
    } finally q.stop()
    val cores = spark.sparkContext.defaultParallelism
    val ops = stateProgress(q)
    // dropDuplicates and flatMapGroupsWithState
    assert(ops.size == 2, s"state operators: ${ops.map(_.operatorName)}")
    assert(ops.forall(_.numShufflePartitions == cores),
      s"state partitions ${ops.map(_.numShufflePartitions)} != $cores cores")
    // the count a restart reads back from the offset log
    val offsets = new String(java.nio.file.Files.readAllBytes(
      base.resolve("checkpoint/offsets/0")), java.nio.charset.StandardCharsets.UTF_8)
    assert(offsets.contains(s""""spark.sql.shuffle.partitions":"$cores""""), offsets)
  }

  test("a restarted stream keeps its checkpoint's state partitions and its results") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream-restart")
    val files = ingestFiles(base)
    val schema = spark.read.parquet(files.head.toString).schema
    val restarted = base.resolve("restarted")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val first = startIngest(restarted.resolve("src"), restarted, schema)
      try {
        deliver(files(0), restarted.resolve("src"))
        first.processAllAvailable()
      } finally first.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val second = startIngest(restarted.resolve("src"), restarted, schema)
    try {
      deliver(files(1), restarted.resolve("src"))
      second.processAllAvailable()
    } finally second.stop()
    val ops = stateProgress(second)
    assert(ops.nonEmpty && ops.forall(_.numShufflePartitions == 32),
      s"restarted state partitions ${ops.map(_.numShufflePartitions)} != 32")

    val uninterrupted = base.resolve("uninterrupted")
    val q = startIngest(uninterrupted.resolve("src"), uninterrupted, schema)
    try files.foreach { f =>
      deliver(f, uninterrupted.resolve("src"))
      q.processAllAvailable()
    } finally q.stop()
    val resumed = sessionRows(restarted.resolve("sink"))
    assert(resumed == sessionRows(uninterrupted.resolve("sink")))

    // every real session is closed; only the sentinel's stays open
    val cutoff = maxRealStart(spark.read.parquet(s"${TestSession.sf}/events.parquet"))
    val batch = SparkEntry.queries("ev_custom_sessionize")(spark, TestSession.sf)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(resumed.filter(_._2.getTime <= cutoff) == batch)
    assert(batch.size > 10)
  }

  test("stateful streaming and batch writes on file: start no shell process") {
    // Without libhadoop, stock RawLocalFileSystem forks chmod per created
    // file and readlink per FileContext rename; GraftSession binds file:
    // to graft.io's fork-free classes. Record every process start while a
    // checkpointed, stateful stream and a batch parquet write run.
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import org.apache.hadoop.fs.{FileContext, FileSystem}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft-stream-forks")
    val src = Files.createDirectory(base.resolve("src"))
    val raw = spark.read.parquet(s"${TestSession.sf}/events.parquet")
    // Shell's class initialiser probes for bash and setsid once per JVM;
    // those are not per-file forks, so let them happen before recording
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      val events = Tables.normalizeEventTs(
        spark.readStream.schema(raw.schema).parquet(src.toString))
        .dropDuplicates("event_id")
        .select(col("user_id"), col("ts"), col("value")).as[graft.streaming.Ev]
      val q = graft.streaming.EventOps.streamingSessionize(events, 30, "1 hour")
        .writeStream.format("parquet")
        .option("checkpointLocation", base.resolve("checkpoint").toString)
        .option("path", base.resolve("sink").toString)
        .outputMode("append").start()
      try {
        // micro-batch 1: the events file; micro-batch 2: a redelivered
        // seventh of it, written by a batch parquet job
        Files.copy(Paths.get(s"${TestSession.sf}/events.parquet"), src.resolve("a.parquet"))
        q.processAllAvailable()
        val redeliver = base.resolve("redeliver")
        raw.filter(col("event_id") % 7 === 0).coalesce(1).write.parquet(redeliver.toString)
        val part = redeliver.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, src.resolve("b.parquet"), StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      } finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    } finally rec.stop()
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    rec.dump(jfr)
    rec.close()
    val shellForks = RecordingFile.readAllEvents(jfr).asScala.filter { e =>
      e.getEventType.getName == "jdk.ProcessStart" && e.getStackTrace != null &&
        e.getStackTrace.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))
    }.map(_.getString("command")).toSeq
    val nForks = shellForks.size
    assert(nForks == 0, s"shell forks, e.g. ${shellForks.take(3)}")
    val stateFiles = Files.walk(base.resolve("checkpoint/state")).iterator.asScala
      .count(_.toString.endsWith(".delta"))
    assert(stateFiles > 0, "the stream must have written state-store files")

    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(java.net.URI.create("file:///"), conf)
      .isInstanceOf[graft.io.ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .isInstanceOf[graft.io.ForkFreeLocalFs])
  }
}
