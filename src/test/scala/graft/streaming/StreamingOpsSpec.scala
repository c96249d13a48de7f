package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int, m: Int, s: Int = 0) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:$s%02d")

  test("exactDedupStream keeps first row per fingerprint within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String)]
    val deduped = StreamingOps.exactDedupStream(
      ms.toDF().toDF("ts", "doc_id", "text"), "text", "ts", "10 minutes")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try {
      ms.addData((ts(10, 0), 1L, "hello world"), (ts(10, 1), 2L, "HELLO   world"))
      q.processAllAvailable()
      ms.addData((ts(10, 2), 3L, "hello world"), (ts(10, 3), 4L, "different text"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM dedup_stream").collect().map(_.getLong(0)).toSet
      // doc 2 (case/whitespace dup) and doc 3 (exact dup) are dropped
      assert(ids == Set(1L, 4L))
    } finally q.stop()
  }

  test("budgetAdmission caps admitted token mass per group across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val admitted = StreamingOps.budgetAdmission(
      ms.toDF().toDF("src", "ntok"), "src", "ntok",
      Map("a" -> 100L, "b" -> 10L))
    val q = admitted.writeStream.outputMode("append").format("memory")
      .queryName("budget_stream").start()
    try {
      // batch 1: a consumes 60 of 100; b's 20 doesn't fit its 10 budget
      ms.addData(("a", 60L), ("b", 20L))
      q.processAllAvailable()
      // batch 2, ascending intra-batch order (10, 20, 30): 10 fits (70),
      // 20 fits (90), 30 would cross (120 > 100) -> dropped;
      // b 10 fits exactly; unknown source has budget 0 -> dropped
      ms.addData(("a", 30L), ("a", 20L), ("a", 10L), ("b", 10L), ("zz", 1L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT src, ntok FROM budget_stream").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val aRows = rows.collect { case ("a", n) => n }
      assert(aRows.sum == 90L && aRows.sorted.toSeq == Seq(10L, 20L, 60L), s"a admitted $aRows")
      assert(rows.collect { case ("b", n) => n }.toSeq == Seq(10L))
      assert(!rows.exists(_._1 == "zz"))
    } finally q.stop()
  }

  test("sessionize emits one closed session per gap-separated burst") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val sessions = StreamingOps.sessionize(
      ms.toDF().toDF("ts", "user"), "ts", "user", "30 minutes", "0 seconds")
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("session_stream").start()
    try {
      // burst 1: 10:00-10:10 (3 events); burst 2: 12:00 (1 event)
      ms.addData((ts(10, 0), "u1"), (ts(10, 5), "u1"), (ts(10, 10), "u1"))
      q.processAllAvailable()
      ms.addData((ts(12, 0), "u1"))
      q.processAllAvailable()
      // advance watermark far enough to close the 12:00 session too
      ms.addData((ts(15, 0), "u2"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user, n_events FROM session_stream WHERE user = 'u1' ORDER BY session_start")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == Seq(("u1", 3L), ("u1", 1L)))
    } finally q.stop()
  }

  test("sessionize drops a row behind the watermark and keeps one just ahead of it") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val sessions = StreamingOps.sessionize(
      ms.toDF().toDF("ts", "user"), "ts", "user", "5 minutes", "10 minutes")
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("session_late").start()
    try {
      // watermark = max event time 12:00 − 10 min delay = 11:50
      ms.addData((ts(12, 0), "w"))
      q.processAllAvailable()
      // one key per probe, so no two probes share a session
      ms.addData(
        (ts(11, 40), "behind"),            // session [11:40, 11:45)
        (ts(11, 44, 59), "endJustBehind"), // session ends 11:49:59
        (ts(11, 45), "endAtWm"),           // session ends exactly at 11:50
        (ts(11, 48), "inGap"),             // behind 11:50, session ends 11:53
        (ts(11, 50), "atWm"),              // event time exactly at 11:50
        (ts(11, 50, 1), "ahead"))
      q.processAllAvailable()
      // a far-ahead row moves the watermark past every session above
      ms.addData((ts(15, 0), "z"))
      q.processAllAvailable()
      val got = spark.sql("SELECT user FROM session_late").collect().map(_.getString(0)).toSet
      // Spark drops a row as late when its own session window
      // [ts, ts + gap) ends at or before the watermark, not when `ts`
      // itself is behind it: the late boundary of sessionize is
      // watermark − gap. So a row behind the watermark by less than the
      // gap still opens a session, and a session ending exactly at the
      // watermark is dropped.
      assert(got == Set("w", "inGap", "atWm", "ahead"), s"kept $got")
    } finally q.stop()
  }

  test("exactDedupStream re-admits an expired key only in the batch after the one whose watermark passed it") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String)]
    val deduped = StreamingOps.exactDedupStream(
      ms.toDF().toDF("ts", "doc_id", "text"), "text", "ts", "10 minutes")
    // every batch carries data: a no-data batch would run the state
    // cleanup between the batches this test places rows in
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val q = try deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_evict").start()
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    def batch(rows: (Timestamp, Long, String)*): Unit = { ms.addData(rows); q.processAllAvailable() }
    try {
      // hello's state expires at 10:00 + 10 min = 10:10
      batch((ts(10, 0), 1L, "hello world"))
      // this batch moves the watermark to 10:30 − 10 min = 10:20, past
      // 10:10; its own duplicate still meets live state and is dropped
      batch((ts(10, 30), 2L, "advance"), (ts(10, 5), 3L, "HELLO  world"))
      // the next batch runs with that watermark, but looks the key up
      // before its cleanup evicts it: still a duplicate
      batch((ts(10, 25), 4L, "hello world"))
      // from the batch after, the key is new again
      batch((ts(10, 40), 5L, "hello world"))
      val ids = spark.sql("SELECT doc_id FROM dedup_evict").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 5L), s"admitted $ids")
    } finally q.stop()
  }

  test("file-source readStream: parquet drops flow through a transform to a sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    Seq((1L, "hello world"), (2L, "quick brown fox")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
      .select(col("doc_id"), graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("file_stream").start()
    try {
      q.processAllAvailable()
      // a later file drop is picked up incrementally
      Seq((3L, "one two three four")).toDF("doc_id", "text")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, n FROM file_stream ORDER BY doc_id")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == Map(1L -> 2, 2L -> 3, 3L -> 4))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("intervalJoin pairs right rows within the lookback window, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Timestamp, String, Long)]
    val purchases = MemoryStream[(Timestamp, String, Long)]
    val joined = StreamingOps.intervalJoin(
      purchases.toDF().toDF("pts", "user", "order_id"),
      views.toDF().toDF("vts", "vuser", "view_id"),
      "user", "vuser", "pts", "vts",
      lookback = "1 HOUR", watermarkDelay = "10 minutes")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("interval_join").start()
    try {
      views.addData((ts(9, 30), "u1", 100L), (ts(8, 0), "u1", 101L), (ts(9, 45), "u2", 102L))
      purchases.addData((ts(10, 0), "u1", 1L))
      q.processAllAvailable()
      val got = spark.sql("SELECT order_id, view_id FROM interval_join")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // view 100 is within [9:00, 10:00]; 101 is too old; 102 is another user
      assert(got == Set((1L, 100L)))
    } finally q.stop()
  }

  test("streaming admission chain mirrors q98: watermark dedup → DSIR score → budget admission") {
    import graft.functions.{ClassifierOps, TextFunctions}
    implicit val sqlCtx = spark.sqlContext
    // batch side: train the DSIR cell model on a static corpus (the
    // weight STORE of the q98 selection stage)
    val corpus = Seq(
      (0L, "alpha beta gamma alpha"), (1L, "delta epsilon zeta eta"),
      (2L, "alpha gamma beta alpha"), (3L, "delta zeta eta theta"))
      .toDF("doc_id", "text")
    val occ = corpus.select(col("doc_id"),
      explode(TextFunctions.tokens(lower(col("text")))).as("word"))
    val target = Seq(0L, 2L).toDF("doc_id") // the alpha-family distribution
    val model = ClassifierOps.dsirModel(occ, "doc_id", "word", target,
      buckets = 64, alpha = 0.5)

    // the stream's candidate docs: 11 duplicates 10's text; 12/13 are
    // target-like, 14 is off-target. Which ones score > 0 is decided by
    // the BATCH scorer (parity is the other spec) — the streamed
    // survivors must match it exactly.
    val cands = Seq(
      (10L, "web", "alpha beta alpha gamma"), (11L, "web", "ALPHA beta   alpha gamma"),
      (12L, "web", "alpha gamma gamma"), (13L, "books", "beta alpha alpha"),
      (14L, "books", "delta eta zeta"))
    val batchPositive = ClassifierOps.dsirScoreDocs(
      cands.toDF("doc_id", "source", "text"), "text", model, buckets = 64)
      .where(col("dsir_score") > 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(batchPositive.contains(10L) && !batchPositive.contains(14L))

    val dir = java.nio.file.Files.createTempDirectory("adm_chain").toFile
    val ms = MemoryStream[(Timestamp, Long, String, String)]
    // STAGE A (stateful: dedup state, watermark-bounded) + the stateless
    // map-only model fold + quality cut, materialized to a parquet stage
    // boundary — the streaming analog of q98's checkpoint discipline,
    // and what keeps flatMapGroupsWithState out of a multi-stateful chain
    val deduped = StreamingOps.exactDedupStream(
      ms.toDF().toDF("ts", "doc_id", "source", "text"), "text", "ts", "10 minutes")
    val scored = ClassifierOps.dsirScoreDocs(deduped, "text", model, buckets = 64)
      .where(col("dsir_score") > 0)
      .withColumn("ntok", TextFunctions.tokenCount(col("text")).cast("long"))
      .select("doc_id", "source", "ntok")
    val qA = scored.writeStream.outputMode("append").format("parquet")
      .option("path", s"$dir/data").option("checkpointLocation", s"$dir/ckptA")
      .start()
    try {
      ms.addData(cands.map { case (id, src, txt) => (ts(9, id.toInt), id, src, txt) }: _*)
      qA.processAllAvailable()
    } finally qA.stop()

    // STAGE B (stateful: admission state): budget-admit per source from
    // the stage boundary — web's budget fits exactly one surviving doc's
    // tokens, books' fits its smaller survivor set
    val src = spark.readStream
      .schema("doc_id LONG, source STRING, ntok LONG")
      .parquet(s"$dir/data")
    val admitted = StreamingOps.budgetAdmission(src, "source", "ntok",
      Map("web" -> 4L, "books" -> 3L))
    val qB = admitted.writeStream.outputMode("append").format("memory")
      .queryName("adm_chain").start()
    try {
      qB.processAllAvailable()
      val got = spark.sql("SELECT source, ntok FROM adm_chain").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      // stage boundary holds exactly the batch-predicted survivors minus
      // the watermark-deduped copy (doc 11)
      val boundary = spark.read.parquet(s"$dir/data")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(boundary == batchPositive - 11L, s"boundary $boundary")
      // admission: per-source token mass within budget, smallest-first
      val bySrc = got.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(bySrc.getOrElse("web", 0L) <= 4L && bySrc.getOrElse("books", 0L) <= 3L)
      assert(got.nonEmpty && got.length < boundary.size,
        s"budget must admit some and drop some, got ${got.toSeq}")
    } finally {
      qB.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("NB model trained batch-side scores a document stream via stream-static join") {
    import graft.functions.{ClassifierOps, TextFunctions}
    implicit val sqlCtx = spark.sqlContext
    // train on a static seed corpus
    val staticOcc = Seq(0L -> "good great fine", 1L -> "bad awful dire")
      .toDF("doc_id", "text")
      .select(col("doc_id"), explode(TextFunctions.tokens(lower(col("text")))).as("word"))
    val seed = Seq((0L, true), (1L, false)).toDF("doc_id", "y")
    val (model, unseen, prior) =
      ClassifierOps.naiveBayesModel(staticOcc, "doc_id", "word", seed, "y", 0.5)
    // score documents as they arrive
    val ms = MemoryStream[(Long, String)]
    val streamOcc = ms.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), explode(TextFunctions.tokens(lower(col("text")))).as("word"))
    val scored = ClassifierOps.scoreWithModel(streamOcc, "doc_id", "word", model, unseen, prior)
    val q = scored.writeStream.outputMode("complete").format("memory")
      .queryName("nb_stream").start()
    try {
      ms.addData((10L, "good fine"), (11L, "awful bad bad"))
      q.processAllAvailable()
      ms.addData((12L, "unseen words only"))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, log_odds FROM nb_stream")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == Set(10L, 11L, 12L))
      assert(got(10L) > 0 && got(11L) < 0) // seed-aligned polarity survives the stream
      // all-unseen doc scores 3 fallback terms + prior, same as batch math
      assert(math.abs(got(12L) - (3 * unseen + prior)) < 1e-9)
    } finally q.stop()
  }

  test("dedupAgainstStore absorbs micro-batches into the persisted banded store") {
    import graft.functions.DedupOps
    import graft.sources.TableStore
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_stream_sig_store"
    // seed the store from a static corpus — the q99 build step
    val seed = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "entirely different seed content about distributed query engines"))
      .toDF("doc_id", "text")
    TableStore.dropTable(spark, tbl)
    TableStore.saveBucketed(DedupOps.minhashStore(seed, "text", "doc_id"),
      tbl, bucketCols = Seq("band", "band_key"), buckets = 4)

    val survivorIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupAgainstStore(
      ms.toDF().toDF("doc_id", "text"), "text", "doc_id", tbl,
      storeBuckets = 4, threshold = 0.5) { (survivors, _) =>
      survivorIds.synchronized {
        survivorIds ++= survivors.select("doc_id").collect().map(_.getLong(0))
      }
    }
    try {
      // batch 1: 10 duplicates seed doc 0 (dropped vs STORE); 11 is novel
      ms.addData(
        (10L, "the quick brown fox jumps over the lazy dog again and again"),
        (11L, "novel streaming content batch one completely fresh words here"))
      q.processAllAvailable()
      // batch 2: 12 duplicates batch 1's survivor 11 — dropped only if
      // batch 1's append is visible to batch 2's absorb; 13 is novel
      ms.addData(
        (12L, "novel streaming content batch one completely fresh words here"),
        (13L, "yet another unrelated document closing out the second batch"))
      q.processAllAvailable()
      assert(survivorIds.synchronized(survivorIds.toSet) == Set(11L, 13L),
        s"survivors ${survivorIds.toSeq}")
      // the store grew by exactly the survivors' banded rows (16 bands each)
      val storeIds = TableStore.loadTable(spark, tbl)
        .select("id").distinct().collect().map(_.getLong(0)).toSet
      assert(storeIds == Set(0L, 1L, 11L, 13L), s"store ids $storeIds")
    } finally {
      q.stop()
      TableStore.dropTable(spark, tbl)
    }
  }

  test("semanticDedupStream absorbs embedding micro-batches into the persisted cell store") {
    import graft.functions.SimilarityOps
    import graft.sources.TableStore
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_stream_cell_store"
    // two well-separated directions; centroids = one per direction
    def vx(s: Float) = Array(s, 0.0f, 0.1f)
    def vy(s: Float) = Array(0.0f, s, 0.1f)
    val cent = Seq((0L, vx(1f)), (1L, vy(1f))).toDF("vec_id", "embedding")
    val seed = Seq((0L, vx(1f)), (1L, vy(1f))).toDF("vec_id", "embedding")
    TableStore.dropTable(spark, tbl)
    TableStore.saveBucketed(
      SimilarityOps.ivfStore(seed, "vec_id", "embedding", cent, "vec_id"),
      tbl, bucketCols = Seq("cid"), buckets = 4)

    val survivorIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ms = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.semanticDedupStream(
      ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", tbl,
      cent, "vec_id", threshold = 0.95, buckets = 4) { (survivors, _) =>
      survivorIds.synchronized {
        survivorIds ++= survivors.select("vec_id").collect().map(_.getLong(0))
      }
    }
    try {
      // batch 1: 10 is a scaled copy of seed 0 (dropped vs STORE);
      // 11 is genuinely new (x+y diagonal, cos ≈ 0.72 to both seeds)
      ms.addData((10L, vx(1.25f)), (11L, Array(1.0f, 1.0f, 0.1f)))
      q.processAllAvailable()
      // batch 2: 12 duplicates batch 1's survivor 11 — dropped only if
      // batch 1's append is visible; 13 is novel (negative diagonal)
      ms.addData((12L, Array(1.25f, 1.25f, 0.125f)), (13L, Array(1.0f, -1.0f, 0.1f)))
      q.processAllAvailable()
      assert(survivorIds.synchronized(survivorIds.toSet) == Set(11L, 13L),
        s"survivors ${survivorIds.toSeq}")
      val storeIds = TableStore.loadTable(spark, tbl)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(storeIds == Set(0L, 1L, 11L, 13L), s"store ids $storeIds")
    } finally {
      q.stop()
      TableStore.dropTable(spark, tbl)
    }
  }

  test("ivfAbsorbStream ingests embedding micro-batches into the persisted inverted file") {
    import graft.functions.SimilarityOps
    import graft.sources.TableStore
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_stream_ivf_store"
    def vx(s: Float) = Array(s, 0.0f, 0.1f)
    def vy(s: Float) = Array(0.0f, s, 0.1f)
    val cent = Seq((0L, vx(1f)), (1L, vy(1f))).toDF("vec_id", "embedding")
    TableStore.dropTable(spark, tbl)
    // empty-store bootstrap goes through the same Append path
    val absorbed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val ms = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.ivfAbsorbStream(
      ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", tbl,
      cent, "vec_id", buckets = 4) { (rows, _) =>
      absorbed.synchronized {
        absorbed ++= rows.select("vec_id", "cid").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
    }
    try {
      ms.addData((10L, vx(2f)), (11L, vy(3f)))
      q.processAllAvailable()
      ms.addData((12L, vx(0.5f)), (13L, Array(0.0f, 0.0f, 0.0f))) // 13: zero-norm, dropped
      q.processAllAvailable()
      // every nonzero vector landed exactly once in its nearest cell
      assert(absorbed.synchronized(absorbed.toSet) ==
        Set((10L, 0L), (11L, 1L), (12L, 0L)), s"absorbed $absorbed")
      spark.catalog.refreshTable(tbl) // appends came from the cloned session
      val store = TableStore.loadTable(spark, tbl)
      assert(store.count() == 3)
      // the stream-maintained table is directly searchable
      val probes = Seq((100L, vx(1f))).toDF("vec_id", "embedding")
      val hits = SimilarityOps.ivfSearchStore(store, probes, cent,
          "vec_id", "vec_id", "vec_id", "embedding", k = 2,
          probeFraction = 0.5, minProbe = 1)
        .select("nbr_id").collect().map(_.getLong(0)).toSet
      assert(hits == Set(10L, 12L), s"hits $hits")
    } finally {
      q.stop()
      TableStore.dropTable(spark, tbl)
    }
  }

  test("bm25AbsorbStream: stream-built index search == one-shot bm25TopK over the union") {
    import graft.functions.RetrievalOps
    import graft.sources.TableStore
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_stream_bm25_idx"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_stats")
    val d1 = Seq((1L, "apple banana apple"), (2L, "banana cherry"))
    val d2 = Seq((3L, "apple cherry cherry date"))
    val queries = Seq(1 -> Seq("apple", "cherry"), 2 -> Seq("banana"))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.bm25AbsorbStream(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl, buckets = 4) {
      bid => batches.synchronized { batches += bid: Unit }
    }
    try {
      ms.addData(d1: _*); q.processAllAvailable()
      ms.addData(d2: _*); q.processAllAvailable()
      assert(batches.synchronized(batches.size) == 2)
      spark.catalog.refreshTable(tbl) // appends came from the cloned session
      spark.catalog.refreshTable(tbl + "_stats")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro"))).toSet
      val oneShot = rows(RetrievalOps.bm25TopK((d1 ++ d2).toDF("doc_id", "text"),
        "doc_id", "text", queries, k = 3))
      assert(rows(RetrievalOps.bm25SearchStore(spark, tbl, queries, k = 3)) == oneShot)
    } finally {
      q.stop()
      TableStore.dropTable(spark, tbl)
      TableStore.dropTable(spark, tbl + "_stats")
    }
  }

  test("cooccurrenceAbsorbStream: stream-built count store == one-shot cooccurrencePpmi") {
    import graft.functions.TextFunctions
    import graft.sources.TableStore
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_stream_cooc"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val d1 = Seq((1L, "a b a b c"), (2L, "b c b c d d"))
    val d2 = Seq((3L, "a c a c a"))
    val ms = MemoryStream[(Long, String)]
    val q = StreamingOps.cooccurrenceAbsorbStream(
      ms.toDF().toDF("doc_id", "text"), "text", tbl, window = 2)()
    try {
      ms.addData(d1: _*); q.processAllAvailable()
      ms.addData(d2: _*); q.processAllAvailable()
      spark.catalog.refreshTable(tbl)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
          r.getAs[Long]("n_pairs"), r.getAs[Long]("ppmi_micro"))).toSet
      val oneShot = rows(TextFunctions.cooccurrencePpmi(
        (d1 ++ d2).toDF("doc_id", "text"), "text", window = 2, minCount = 2))
      assert(rows(TextFunctions.ppmiFromStore(spark, tbl, minCount = 2)) == oneShot)
    } finally {
      q.stop()
      TableStore.dropTable(spark, tbl)
    }
  }

  test("absorbComponentsStream maintains the persisted label store across batches") {
    import graft.functions.GraphOps
    import graft.sources.TableStore
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_stream_label_store"
    // seed: two components {1,2,3} and {10,11}, plus singleton 20
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val seeded = GraphOps.connectedComponents(base, "src", "dst")
      .unionByName(Seq((20L, 20L)).toDF("id", "component"))
    TableStore.dropTable(spark, tbl)
    TableStore.saveBucketed(seeded.withColumn("epoch", lit(0L)), tbl,
      bucketCols = Seq("id"), buckets = 4)

    // the stream appends from foreachBatch's CLONED session, which
    // refreshes its own relation cache, not this session's — an external
    // reader of an appended table refreshes before reading (the standard
    // cross-session metadata contract)
    def liveMap() = {
      spark.catalog.refreshTable(tbl)
      GraphOps.liveLabels(TableStore.loadTable(spark, tbl))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    val deltaSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ms = MemoryStream[(Long, Long)]
    val q = StreamingOps.absorbComponentsStream(
      ms.toDF().toDF("src", "dst"), "src", "dst", tbl, buckets = 4) {
      (delta, _) => deltaSizes.synchronized { deltaSizes += delta.count() }
    }
    try {
      // batch 1 merges {10,11} into {1,2,3} and attaches new node 30
      ms.addData((3L, 10L), (30L, 11L))
      q.processAllAvailable()
      assert(liveMap() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
        11L -> 1L, 20L -> 20L, 30L -> 1L))
      // batch 2 merges the singleton via batch 1's component — only
      // visible if batch 2's live view includes batch 1's appends
      ms.addData((20L, 30L))
      q.processAllAvailable()
      assert(liveMap() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
        11L -> 1L, 20L -> 1L, 30L -> 1L))
      // appends are CHANGED rows only: batch 1 relabels 10, 11 and adds
      // 30 (3 rows); batch 2 relabels 20 (1 row)
      assert(deltaSizes.synchronized(deltaSizes.toSeq) == Seq(3L, 1L))
      // merge-on-read: nothing rewritten, epochs accumulate
      spark.catalog.refreshTable(tbl)
      val byEpoch = TableStore.loadTable(spark, tbl)
        .groupBy("epoch").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byEpoch == Map(0L -> 6L, 1L -> 3L, 2L -> 1L))
      // the live view equals a from-scratch CC over everything seen
      val full = GraphOps.connectedComponents(
        base.unionByName(Seq((3L, 10L), (30L, 11L), (20L, 30L)).toDF("src", "dst")),
        "src", "dst").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(liveMap() == full)
    } finally {
      q.stop()
      TableStore.dropTable(spark, tbl)
    }
  }
  test("maxSimTokenCdcBatch: delete drops the doc's token bag AND its PQ codes; shared-epoch re-embed serves the new bag") {
    import graft.functions.{PqOps, SimilarityOps}
    import graft.sources.TableStore
    val ttbl = "graft_mscdc_toks"; val tmtbl = "graft_mscdc_tomb"
    val ctbl = "graft_mscdc_codes"
    Seq(ttbl, tmtbl, ctbl).foreach(TableStore.dropTable(spark, _))
    val rng = new scala.util.Random(85)
    def vec() = Array.fill(8)(rng.nextFloat() * 2f - 1f)
    // 6 documents x 3 token rows each: tok_id = doc_id*3 + j
    val df = (0L until 18L).map(i => (i / 3L, i, vec()))
      .toDF("doc_id", "tok_id", "embedding").localCheckpoint(true)
    val cent = df.where($"tok_id" < 4) // frozen quantizer
    val cb = PqOps.pqCodebook(df, "tok_id", "embedding",
      df.where($"tok_id" < 2), "tok_id", m = 2, dim = 8, lloydRounds = 1)
      .localCheckpoint(true) // frozen codebook
    val base = df.where($"doc_id" < 4)
    TableStore.saveBucketed(
      SimilarityOps.ivfStore(base, "tok_id", "embedding", cent, "tok_id",
        carryCols = Seq("doc_id")).withColumn("epoch", lit(0L)),
      ttbl, bucketCols = Seq("cid"), buckets = 4)
    TableStore.saveBucketed(
      df.select($"doc_id", lit(0L).as("before_epoch")).where(lit(false)),
      tmtbl, bucketCols = Seq("doc_id"), buckets = 4)
    TableStore.saveBucketed(
      PqOps.pqEncode(base, "tok_id", "embedding", cb, 2, 8)
        .join(base.select("tok_id", "doc_id"), Seq("tok_id"))
        .withColumn("epoch", lit(0L)),
      ctbl, bucketCols = Seq("tok_id"), buckets = 4)
    // ONE mixed batch: insert docs 4-5, DELETE doc 1, RE-EMBED doc 2
    val batch = df.where($"doc_id" >= 4)
        .select(lit("I").as("op"), $"doc_id", $"tok_id", $"embedding")
      .unionByName(df.where($"doc_id" === 1)
        .select(lit("D").as("op"), $"doc_id", $"tok_id", $"embedding"))
      .unionByName(df.where($"doc_id" === 2)
        .select(lit("U").as("op"), $"doc_id", $"tok_id",
          reverse($"embedding").as("embedding")))
    graft.streaming.StreamingOps.maxSimTokenCdcBatch(batch, "doc_id",
      "tok_id", "embedding", "op", ttbl, tmtbl, cent, "tok_id",
      buckets = 4, codesTable = Some(ctbl), codebook = Some(cb),
      pqM = 2, pqDim = 8)
    // the FINAL corpus the live views must serve: doc 1 gone, doc 2 reversed
    val fin = df.where($"doc_id" =!= 1)
      .select($"doc_id", $"tok_id",
        when($"doc_id" === 2, reverse($"embedding"))
          .otherwise($"embedding").as("embedding"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("tok_id"),
        r.getAs[Long]("cid"), r.getSeq[Float](r.fieldIndex("embedding")).toList)
    val liveToks = TableStore.liveView(TableStore.loadTable(spark, ttbl),
      TableStore.loadTable(spark, tmtbl), "doc_id", "epoch")
    // live (doc, tok, cid, vector) == one-shot ivfStore over the final
    // corpus — deletions gone, re-embeds re-celled under the FROZEN
    // quantizer with their NEW vectors
    val oneShot = SimilarityOps.ivfStore(fin, "tok_id", "embedding", cent,
      "tok_id", carryCols = Seq("doc_id"))
    assert(liveToks.select("doc_id", "tok_id", "cid", "embedding")
      .collect().map(key).toSet ==
      oneShot.select("doc_id", "tok_id", "cid", "embedding")
        .collect().map(key).toSet,
      "live token view != one-shot store over the final corpus")
    // the SAME doc-keyed tombstone hides the codes: live codes ==
    // encode(final corpus) — the two serving representations cannot
    // desynchronize through a delete or a re-embed
    def ckey(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("tok_id"),
        r.getSeq[Long](r.fieldIndex("codes")).toList)
    val liveCodes = TableStore.liveView(TableStore.loadTable(spark, ctbl),
      TableStore.loadTable(spark, tmtbl), "doc_id", "epoch")
    val oneShotCodes = PqOps.pqEncode(fin, "tok_id", "embedding", cb, 2, 8)
      .join(fin.select("tok_id", "doc_id"), Seq("tok_id"))
    assert(liveCodes.select("doc_id", "tok_id", "codes").collect()
      .map(ckey).toSet ==
      oneShotCodes.select("doc_id", "tok_id", "codes").collect()
        .map(ckey).toSet,
      "live codes view != encode of the final corpus")
    // shared-epoch atomicity: doc 2's replacement rows carry EXACTLY the
    // tombstone's before_epoch (old rows epoch < e hidden, new rows at e
    // live) — there is no epoch at which the doc is absent
    val tombE = TableStore.loadTable(spark, tmtbl)
      .where($"doc_id" === 2).agg(max("before_epoch")).head().getLong(0)
    val newE = liveToks.where($"doc_id" === 2)
      .select("epoch").distinct().collect().map(_.getLong(0)).toSet
    assert(newE == Set(tombE),
      s"re-embed rows at epochs $newE, tombstone before_epoch $tombE")
    Seq(ttbl, tmtbl, ctbl).foreach(TableStore.dropTable(spark, _))
  }
}

class CmsStreamSpec extends graft.SparkSpec {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  test("streaming CMS cells equal a batch build over the union of batches") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val cells = StreamingOps.cmsStream(ms.toDF().toDF("word"), "word",
      depth = 3, width = 16)
    val q = cells.writeStream.outputMode("complete").format("memory")
      .queryName("cms_stream").start()
    val b1 = Seq("a", "b", "a", "c", "a")
    val b2 = Seq("b", "b", "d", "a")
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT j, bucket, c FROM cms_stream").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.functions.SketchOps
        .cmsBuild((b1 ++ b2).toDF("word"), "word", depth = 3, width = 16)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, "streaming state must equal the batch sketch")
      // and estimates off the streamed cells still never under-count
      val est = graft.functions.SketchOps.cmsEstimate(
        (b1 ++ b2).distinct.toDF("word"), "word",
        spark.sql("SELECT j, bucket, c FROM cms_stream"), depth = 3, width = 16)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("est")).toMap
      val truth = (b1 ++ b2).groupBy(identity).map { case (k, v) => k -> v.size }
      truth.foreach { case (w, c) => assert(est(w) >= c) }
    } finally q.stop()
  }

  test("streaming CMS state is bounded by depth x width under many distinct keys") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val cells = StreamingOps.cmsStream(ms.toDF().toDF("word"), "word",
      depth = 2, width = 8)
    val q = cells.writeStream.outputMode("complete").format("memory")
      .queryName("cms_bounded").start()
    try {
      ms.addData((0 until 500).map(i => s"k$i"): _*)
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM cms_bounded").head().getLong(0)
      assert(n <= 16, s"state must stay <= d*w cells, got $n")
    } finally q.stop()
  }

  test("streaming HLL registers equal the batch sketch of the union; state bounded at 2^p") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val regs = StreamingOps.hllStream(ms.toDF().toDF("k"), "k", p = 6)
    val q = regs.writeStream.outputMode("complete").format("memory")
      .queryName("hll_stream").start()
    val b1 = (1 to 300).map(i => s"u$i")
    val b2 = (200 to 450).map(i => s"u$i") // overlap: max is idempotent
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT idx, mx FROM hll_stream").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val batch = graft.functions.SketchOps
        .hllRegisters((b1 ++ b2).toDF("k"), "k", p = 6)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamed == batch, "streaming registers must equal the batch build")
      assert(streamed.size <= 64, s"state must stay <= 2^p registers, got ${streamed.size}")
      // estimating the snapshot works and lands near the true 450
      val est = graft.functions.SketchOps.hllEstimate(
        spark.sql("SELECT idx, mx FROM hll_stream"), p = 6).head().getAs[Long]("est")
      assert(math.abs(est - 450) < 4 * (1.04 / math.sqrt(64.0)) * 450, s"est $est")
    } finally q.stop()
  }

  test("kmvAbsorbStream: absorbed store equals the one-shot sketch, any batch order") {
    import graft.functions.SketchOps
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_stream_kmv_store"
    val all = (0 until 120).map(i => ("a", s"x${i % 40}")) ++
      (0 until 90).map(i => ("b", s"x${20 + i % 45}"))
    def storeRows() = spark.table(tbl).collect()
      .map(r => r.getAs[String]("g") ->
        ((r.getAs[scala.collection.Seq[Long]]("ks").toList, r.getAs[Long]("nd"))))
      .toMap
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val ms = MemoryStream[(String, String)]
    val q = StreamingOps.kmvAbsorbStream(
      ms.toDF().toDF("g", "k"), "g", "k", tbl, k = 16)()
    val fromStream = try {
      val (h, t) = all.splitAt(70)
      ms.addData(h: _*); q.processAllAvailable()
      ms.addData(t: _*); q.processAllAvailable()
      storeRows()
    } finally q.stop()
    // one-shot reference: same values, nd capped like the store's
    val oneShot = SketchOps.kmvSketch(all.toDF("g", "k"), "g", "k", k = 16)
      .collect().map(r => r.getAs[String]("g") ->
        ((r.getAs[scala.collection.Seq[Long]]("ks").toList,
          math.min(r.getAs[Long]("nd"), 17L)))).toMap
    assert(fromStream == oneShot)
    // a different split (including a group-disjoint one) converges too
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    all.grouped(37).foreach { chunk =>
      StreamingOps.kmvAbsorbBatch(chunk.toDF("g", "k"), "g", "k", tbl, k = 16): Unit
    }
    assert(storeRows() == oneShot)
    spark.sql(s"DROP TABLE IF EXISTS $tbl"): Unit
  }

  test("ddAbsorbStream: absorbed histogram equals the one-shot bins, any batch order") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_stream_dd_store"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val all = (1 to 300).map(i => ("a", (i % 97 + 1).toLong)) ++
      (1 to 200).map(i => ("b", (i * 7 % 500 + 1).toLong))
    val ms = MemoryStream[(String, Long)]
    val q = StreamingOps.ddAbsorbStream(ms.toDF().toDF("g", "v"), "g", "v", tbl)()
    try {
      // deliberately interleaved, unordered chunks — sum-merge doesn't care
      all.grouped(173).foreach { chunk =>
        ms.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val absorbed = spark.table(tbl).collect().map(r =>
      (r.getAs[String]("g"), r.getAs[Long]("bin")) -> r.getAs[Long]("cnt")).toMap
    val oneShot = graft.functions.SketchOps
      .ddHistogram(all.toDF("g", "v"), "g", "v").collect().map(r =>
        (r.getAs[String]("g"), r.getAs[Long]("bin")) -> r.getAs[Long]("cnt")).toMap
    assert(absorbed == oneShot)
    spark.sql(s"DROP TABLE IF EXISTS $tbl"): Unit
  }

  test("cusumAbsorbStream: segment monoid replays the one-shot detector exactly") {
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_stream_cusum_store"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // two keys with different shapes; counts per hour
    val counts = Map("a" -> Seq(3, 1, 1, 4, 4, 1), "b" -> Seq(1, 1, 5, 1, 1, 1))
    val all = counts.toSeq.flatMap { case (g, cs) =>
      cs.zipWithIndex.flatMap { case (c, h) => (0 until c).map(m => (g, at(h, m + 1))) } }
    // stream in three bucket-aligned, time-ordered chunks: hours [0,1], [2,3], [4,5]
    val ms = MemoryStream[(String, Timestamp)]
    val q = StreamingOps.cusumAbsorbStream(ms.toDF().toDF("g", "ts"),
      "g", "ts", tbl, mu0 = 2L)()
    try {
      Seq(0 to 1, 2 to 3, 4 to 5).foreach { hrs =>
        ms.addData(all.filter(r => hrs.contains(r._2.toLocalDateTime.getHour)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val store = spark.table(tbl).collect().map { r =>
      r.getAs[String]("g") -> ((r.getAs[Long]("n_buckets"),
        r.getAs[Long]("p_total"), r.getAs[Long]("min_prefix")))
    }.toMap
    // one-shot reference: final-state aggregates from cusumFixed's frame
    // a: y=[1,-1,-1,2,2,-1] P=[1,0,-1,1,3,2]  -> (6, 2, -1)
    // b: y=[-1,-1,3,-1,-1,-1] P=[-1,-2,1,0,-1,-2] -> (6, -2, -2)
    assert(store == Map("a" -> ((6L, 2L, -1L)), "b" -> ((6L, -2L, -2L))), s"got $store")
    // derived cusum S = P - min(0, minP): a -> 3, b -> 0
    val s_a = store("a")._2 - math.min(0L, store("a")._3)
    val s_b = store("b")._2 - math.min(0L, store("b")._3)
    assert(s_a == 3L && s_b == 0L)
    // matches the last row of the one-shot detector per key
    val oneShot = graft.functions.EventOps.cusumFixed(all.toDF("g", "ts"), "g", "ts",
        mu0 = 2L).collect()
      .groupBy(_.getAs[String]("g")).view
      .mapValues(_.maxBy(_.getAs[Long]("hidx")).getAs[Long]("cusum")).toMap
    assert(oneShot == Map("a" -> s_a, "b" -> s_b))
    spark.sql(s"DROP TABLE IF EXISTS $tbl"): Unit
  }

  test("mgAbsorbStream: k-row store keeps the frequent-elements guarantee live") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = "graft_stream_mg_store"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // Zipf-ish stream: key i appears (30 - i) times, i in 0..29; n = 465
    val all = (0 until 30).flatMap(i => Seq.fill(30 - i)(s"k$i"))
    val truth = (0 until 30).map(i => s"k$i" -> (30L - i)).toMap
    val ms = MemoryStream[String]
    val q = StreamingOps.mgAbsorbStream(ms.toDF().toDF("tok"), "tok", tbl, k = 8)()
    try {
      all.grouped(160).foreach { chunk =>
        ms.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val rows = spark.table(tbl).collect()
    assert(rows.nonEmpty && rows.length <= 8, s"store must stay <= k rows")
    val n = rows.head.getAs[Long]("n_tot"); val dec = rows.head.getAs[Long]("dec")
    assert(n == 465L && dec <= n / 9, s"dec $dec breaks the mergeable bound")
    rows.foreach { r =>
      val key = r.getAs[String]("key"); val lo = r.getAs[Long]("cnt_lo")
      assert(lo <= truth(key) && truth(key) - lo <= dec)
    }
    // guaranteed survivors: true count > n/(k+1)
    val mustKeep = truth.filter(_._2 > n / 9).keySet
    assert(mustKeep.subsetOf(rows.map(_.getAs[String]("key")).toSet))
    spark.sql(s"DROP TABLE IF EXISTS $tbl"): Unit
  }

  test("knnGraphCdcBatch: a MIXED batch applies inserts before deletes; victims vanish; ≤2 pinned RDDs") {
    import graft.functions.SimilarityOps
    import graft.sources.TableStore
    val vtbl = "graft_cdc_vecs"; val gtbl = "graft_cdc_graph"
    val vttbl = "graft_cdc_vtomb"; val gttbl = "graft_cdc_gtomb"
    Seq(vtbl, gtbl, vttbl, gttbl).foreach(TableStore.dropTable(spark, _))
    val rng = new scala.util.Random(63)
    def vec() = Array.fill(6)(rng.nextFloat() * 2f - 1f)
    val all = (0L until 30L).map(i => (i, vec()))
    val base = all.filter(_._1 < 20L).toDF("vec_id", "embedding")
    val cent = all.filter(_._1 < 3L).toDF("vec_id", "embedding")
    val k = 4
    TableStore.saveBucketed(
      SimilarityOps.ivfStore(base, "vec_id", "embedding", cent, "vec_id"),
      vtbl, bucketCols = Seq("cid"), buckets = 4)
    TableStore.saveBucketed(base.select("vec_id").where(lit(false)),
      vttbl, bucketCols = Seq("vec_id"), buckets = 4)
    TableStore.saveBucketed(
      base.select($"vec_id".as("probe_id"), lit(0L).as("before_epoch"))
        .where(lit(false)), gttbl, bucketCols = Seq("probe_id"), buckets = 4)
    val g0 = SimilarityOps.bruteForceTopK(base, base, "vec_id", "vec_id",
      "embedding", k).select("probe_id", "nbr_id", "score", "rank")
    TableStore.saveBucketed(g0.withColumn("epoch", lit(0L)), gtbl,
      bucketCols = Seq("probe_id"), buckets = 4)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // ONE mixed batch: insert 20..29, delete 3 and 7 — the insert lands
    // first, so the delete's repair proposals can reach the new nodes
    val batch = all.filter(_._1 >= 20L).toDF("vec_id", "embedding")
      .select(lit("I").as("op"), $"vec_id", $"embedding")
      .unionByName(base.where($"vec_id".isin(3L, 7L))
        .select(lit("D").as("op"), $"vec_id", $"embedding"))
    graft.streaming.StreamingOps.knnGraphCdcBatch(batch, "vec_id",
      "embedding", "op", gtbl, vtbl, vttbl, gttbl, cent, "vec_id",
      k = k, buckets = 4)
    val pinnedNew = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinnedNew.size <= 2, s"CDC batch left ${pinnedNew.size} pinned RDDs")
    val live = SimilarityOps.liveKnnGraph(
        TableStore.liveView(TableStore.loadTable(spark, gtbl),
          TableStore.loadTable(spark, gttbl), "probe_id", "epoch"))
      .select("probe_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val probes = live.map(_._1).toSet
    // every inserted node joined; both victims gone on BOTH edge ends
    assert((20L until 30L).forall(probes.contains),
      s"inserted nodes missing from the live graph: ${(20L until 30L).toSet -- probes}")
    assert(live.forall(e => e._1 != 3L && e._1 != 7L
      && e._2 != 3L && e._2 != 7L), "a victim survived the live view")
    // the vector store's live view dropped the victims too
    val liveVecIds = TableStore.loadTable(spark, vtbl)
      .join(TableStore.loadTable(spark, vttbl), Seq("vec_id"), "left_anti")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(liveVecIds == (0L until 30L).toSet -- Set(3L, 7L))
    Seq(vtbl, gtbl, vttbl, gttbl).foreach(TableStore.dropTable(spark, _))
  }

  test("knnGraphCdcBatch versioned store: re-insert of a deleted id is LIVE with its new vector; plain store hides it") {
    import graft.functions.SimilarityOps
    import graft.sources.TableStore
    val rng = new scala.util.Random(71)
    def vec() = Array.fill(6)(rng.nextFloat() * 2f - 1f)
    val all = (0L until 20L).map(i => (i, vec()))
    val cent = all.filter(_._1 < 3L).toDF("vec_id", "embedding")
    val newVec = Array.fill(6)(0.5f)
    def setup(versioned: Boolean, pfx: String): (String, String, String, String) = {
      val vtbl = s"graft_${pfx}_vecs"; val gtbl = s"graft_${pfx}_graph"
      val vttbl = s"graft_${pfx}_vtomb"; val gttbl = s"graft_${pfx}_gtomb"
      Seq(vtbl, gtbl, vttbl, gttbl).foreach(TableStore.dropTable(spark, _))
      val base = all.toDF("vec_id", "embedding")
      val rows = SimilarityOps.ivfStore(base, "vec_id", "embedding", cent, "vec_id")
      TableStore.saveBucketed(
        if (versioned) rows.withColumn("epoch", lit(0L)) else rows,
        vtbl, bucketCols = Seq("cid"), buckets = 4)
      TableStore.saveBucketed(
        if (versioned)
          base.select($"vec_id", lit(0L).as("before_epoch")).where(lit(false))
        else base.select("vec_id").where(lit(false)),
        vttbl, bucketCols = Seq("vec_id"), buckets = 4)
      TableStore.saveBucketed(
        base.select($"vec_id".as("probe_id"), lit(0L).as("before_epoch"))
          .where(lit(false)), gttbl, bucketCols = Seq("probe_id"), buckets = 4)
      TableStore.saveBucketed(
        SimilarityOps.bruteForceTopK(base, base, "vec_id", "vec_id",
          "embedding", 4).select("probe_id", "nbr_id", "score", "rank")
          .withColumn("epoch", lit(0L)),
        gtbl, bucketCols = Seq("probe_id"), buckets = 4)
      (vtbl, gtbl, vttbl, gttbl)
    }
    def dThenI(versioned: Boolean, pfx: String): Set[Long] = {
      val (vtbl, gtbl, vttbl, gttbl) = setup(versioned, pfx)
      val del = Seq((7L, vec())).toDF("vec_id", "embedding")
        .select(lit("D").as("op"), $"vec_id", $"embedding")
      val ins = Seq((7L, newVec)).toDF("vec_id", "embedding")
        .select(lit("I").as("op"), $"vec_id", $"embedding")
      Seq(del, ins).foreach(b =>
        graft.streaming.StreamingOps.knnGraphCdcBatch(b, "vec_id",
          "embedding", "op", gtbl, vtbl, vttbl, gttbl, cent, "vec_id",
          k = 4, buckets = 4, versionedVecStore = versioned))
      val liveVecs =
        if (versioned) TableStore.liveView(TableStore.loadTable(spark, vtbl),
          TableStore.loadTable(spark, vttbl), "vec_id", "epoch")
        else TableStore.loadTable(spark, vtbl)
          .join(TableStore.loadTable(spark, vttbl), Seq("vec_id"), "left_anti")
      val ids = liveVecs.select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(ids.distinct.size == ids.size,
        s"live view served a duplicate id (stale version leaked): $ids")
      Seq(vtbl, gtbl, vttbl, gttbl).foreach(TableStore.dropTable(spark, _))
      ids.toSet
    }
    // plain layout: the tombstone hides the re-inserted id forever
    assert(dThenI(versioned = false, "cdcplain") == (0L until 20L).toSet - 7L,
      "plain store should NOT revive a re-inserted id")
    // versioned layout: the replacement row is live (exactly once)
    assert(dThenI(versioned = true, "cdcvers") == (0L until 20L).toSet,
      "versioned store must serve the re-inserted id")
    // single-batch op "U" reaches the same live state as D-then-I, and
    // the replacement row carries the NEW vector
    val (vtbl, gtbl, vttbl, gttbl) = setup(versioned = true, "cdcupd")
    graft.streaming.StreamingOps.knnGraphCdcBatch(
      Seq((7L, newVec)).toDF("vec_id", "embedding")
        .select(lit("U").as("op"), $"vec_id", $"embedding"),
      "vec_id", "embedding", "op", gtbl, vtbl, vttbl, gttbl, cent, "vec_id",
      k = 4, buckets = 4, versionedVecStore = true)
    val live7 = TableStore.liveView(TableStore.loadTable(spark, vtbl),
        TableStore.loadTable(spark, vttbl), "vec_id", "epoch")
      .where($"vec_id" === 7L).collect()
    assert(live7.length == 1, s"expected exactly one live row for id 7, got ${live7.length}")
    val got = live7.head.getAs[scala.collection.Seq[Float]]("embedding")
    assert(got.forall(_ == 0.5f), s"U did not land the new vector: $got")
    Seq(vtbl, gtbl, vttbl, gttbl).foreach(TableStore.dropTable(spark, _))
    // and op "U" on the PLAIN store is refused — it could never serve
    val (v2, g2, vt2, gt2) = setup(versioned = false, "cdcuplain")
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.knnGraphCdcBatch(
        Seq((7L, newVec)).toDF("vec_id", "embedding")
          .select(lit("U").as("op"), $"vec_id", $"embedding"),
        "vec_id", "embedding", "op", g2, v2, vt2, gt2, cent, "vec_id",
        k = 4, buckets = 4, versionedVecStore = false)
    }
    Seq(v2, g2, vt2, gt2).foreach(TableStore.dropTable(spark, _))
  }

  test("knnGraphAbsorbStream: multi-batch absorb leaves ≤2 pinned RDDs and a complete live graph") {
    import graft.functions.SimilarityOps
    import graft.sources.TableStore
    implicit val sqlCtx = spark.sqlContext
    val vtbl = "graft_stream_knn_vecs"
    val gtbl = "graft_stream_knn_graph"
    TableStore.dropTable(spark, vtbl); TableStore.dropTable(spark, gtbl)
    val rng = new scala.util.Random(91)
    def vec() = Array.fill(6)(rng.nextFloat() * 2f - 1f)
    val all = (0L until 36L).map(i => (i, vec()))
    val base = all.filter(_._1 < 12L).toDF("vec_id", "embedding")
    val cent = all.filter(_._1 < 3L).toDF("vec_id", "embedding")
    val k = 4
    // bootstrap: vector store + an exact epoch-0 graph over the base
    TableStore.saveBucketed(
      SimilarityOps.ivfStore(base, "vec_id", "embedding", cent, "vec_id"),
      vtbl, bucketCols = Seq("cid"), buckets = 4)
    val g0 = SimilarityOps.bruteForceTopK(base, base, "vec_id", "vec_id",
      "embedding", k).select("probe_id", "nbr_id", "score", "rank")
    TableStore.saveBucketed(g0.withColumn("epoch", lit(0L)), gtbl,
      bucketCols = Seq("probe_id"), buckets = 4)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ms = MemoryStream[(Long, Array[Float])]
    var batches = 0
    val q = graft.streaming.StreamingOps.knnGraphAbsorbStream(
      ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      gtbl, vtbl, cent, "vec_id", k = k, buckets = 4) { (delta, _) =>
      batches += 1
      assert(delta.count() > 0) // the callback CAN still read the delta
    }
    try {
      // three micro-batches of 8 new vectors each
      Seq(12L until 20L, 20L until 28L, 28L until 36L).foreach { ids =>
        ms.addData(all.filter(t => ids.contains(t._1)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(batches == 3)
    // the leak gate: absorbing 3 batches must not accumulate per-batch
    // checkpoint frames (seeds/undT/cand/newTop/landed/delta) — the
    // connectedComponents discipline applied to the kNN absorb path
    val pinnedNew = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinnedNew.size <= 2,
      s"kNN absorb stream left ${pinnedNew.size} pinned RDDs")
    // and the stream-built live graph serves every node, old and new
    spark.catalog.refreshTable(gtbl)
    val live = SimilarityOps.liveKnnGraph(TableStore.loadTable(spark, gtbl))
    val probes = live.select("probe_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert((0L until 36L).forall(probes.contains),
      s"live graph missing nodes: ${(0L until 36L).toSet -- probes}")
    // cross-batch visibility: each micro-batch must read the PREVIOUS
    // batch's append (fresh relation, not the cached pre-append listing)
    // — three batches land at three DISTINCT epochs and the live view
    // never serves two epochs' rows for one probe (the stale-listing bug
    // stamped two deltas with the same epoch and doubled live rows)
    val epochs = TableStore.loadTable(spark, gtbl)
      .where(col("epoch") > 0L).select("epoch").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(epochs == Set(1L, 2L, 3L), s"delta epochs were $epochs")
    val dup = live.groupBy("probe_id").count().where(col("count") > k).count()
    assert(dup == 0, s"$dup probes serve more than k live rows")
    TableStore.dropTable(spark, vtbl); TableStore.dropTable(spark, gtbl)
  }

  test("knnGraphAbsorb seeds a new node that is alone in its IVF cell (entry-node fallback)") {
    import graft.functions.SimilarityOps
    // 5 base vectors near axis 0 (cell 0); the new node sits alone in
    // cell 1 (its centroid has no other member) — without the fallback
    // it produced NO delta row and silently never joined the graph
    def v(axis: Int, eps: Float) = { val a = Array.fill(6)(eps); a(axis) = 1f; a }
    val base = (0L until 5L).map(i => (i, v(0, 0.01f * (i + 1)))).toDF("vec_id", "embedding")
    val nw = Seq((9L, v(3, 0.01f))).toDF("vec_id", "embedding")
    val all = base.unionByName(nw)
    val cents = Seq((0L, v(0, 0.02f)), (1L, v(3, 0.05f))).toDF("vec_id", "embedding")
    val cells = SimilarityOps.ivfStore(all, "vec_id", "embedding",
      cents, "vec_id").select("vec_id", "cid")
    val g0 = SimilarityOps.bruteForceTopK(base, base, "vec_id", "vec_id",
      "embedding", 3).select("probe_id", "nbr_id", "score", "rank")
    val delta = SimilarityOps.knnGraphAbsorb(g0, all, nw.select("vec_id"),
      cells, "vec_id", "embedding", k = 3).collect()
    val probes = delta.map(_.getAs[Long]("probe_id")).toSet
    assert(probes.contains(9L), s"lone new node dropped; delta probes $probes")
    // seeded via the global entry node (id 0), then merged top-k edges
    val edges9 = delta.filter(_.getAs[Long]("probe_id") == 9L)
    assert(edges9.nonEmpty && edges9.forall(_.getAs[Long]("nbr_id") != 9L))
  }

}
