package graft.streaming

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming counterparts of the batch pipeline operators — the pieces a
  * continuously-ingesting corpus pipeline needs beyond the reference's
  * Listen surface (SURVEY.md §2.6 notes the reference has no watermarks,
  * windows, or late-data handling; these are the Spark-native upgrades).
  *
  * Scale design: every operator here is a standard stateful Structured
  * Streaming construct — state is keyed and partitioned by Spark's state
  * store, watermarks bound state size, and nothing collects to the driver.
  */
object StreamingOps {

  /** Streaming exact dedup: first row per canonical-text fingerprint wins;
    * duplicates arriving within the watermark horizon are dropped. State
    * for a fingerprint is evictable once the watermark passes it — the
    * streaming analog of the batch [[graft.functions.DedupOps.exactDedup]]
    * with bounded state.
    *
    * Eviction timing (q184-measured): state lookup does not re-check
    * expiry, so an expired key is only re-admittable one micro-batch
    * AFTER the batch whose watermark passed it — the cleanup phase of
    * the NEXT batch removes it. A duplicate arriving in the same batch
    * that advances the watermark past its key is still dropped. */
  def exactDedupStream(df: DataFrame, textCol: String,
                       tsCol: String, watermarkDelay: String): DataFrame =
    df.withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Gap-based sessionization as a streaming aggregation: one output row
    * per (key, session window), closed when the watermark passes the gap —
    * the streaming analog of the batch q30 window-lag formulation. A row
    * is dropped as late when its own session `[ts, ts + gap)` ends at or
    * before the watermark, so the late boundary is watermark − gap. */
  def sessionize(df: DataFrame, tsCol: String, keyCol: String,
                 gap: String, watermarkDelay: String,
                 aggs: Seq[Column] = Seq(count(lit(1)).as("n_events"))): DataFrame = {
    require(aggs.nonEmpty, "sessionize needs at least one aggregate column")
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap).as("session"), col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session.start"))
      .withColumn("session_end", col("session.end"))
      .drop("session")
  }

  /** Streaming token-budget admission: rows pass per group until that
    * group's token budget is exhausted, then drop — admission control for
    * a continuously-ingesting mixture (the streaming analog of the batch
    * [[graft.operators.MixtureSample]]; arrival order replaces the hash
    * priority, because a stream has exactly one order — the batch operator
    * is the reproducible variant).
    *
    * State per group is ONE long (consumed tokens) in the keyed state
    * store — admission never re-reads history, and a group's state is as
    * partitioned as the groups are. The budget is a cap on admitted mass,
    * not a stop signal: a row that would cross the boundary is dropped but
    * later rows that still fit are admitted. Within a micro-batch, rows
    * are admitted in ASCENDING token order — flatMapGroupsWithState gives
    * no intra-group arrival order after the shuffle, so the batch-internal
    * order must be a deterministic function of the data; smallest-first
    * also maximizes the number of admitted rows.
    *
    * Input must be a streaming Dataset with (`groupCol`: String,
    * `tokenCol`: Long) columns; emits the admitted rows as
    * (group, token) pairs in Append mode.
    */
  def budgetAdmission(df: DataFrame, groupCol: String, tokenCol: String,
                      budgets: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df.select(col(groupCol).cast("string"), col(tokenCol).cast("long"))
      .as[(String, Long)]
    pairs.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val budget = budgets.getOrElse(key, 0L)
          var consumed = if (state.exists) state.get else 0L
          val admitted = rows.toSeq.sortBy(_._2).filter { case (_, ntok) =>
            val fits = consumed + ntok <= budget
            if (fits) consumed += ntok
            fits
          }
          state.update(consumed)
          admitted.iterator
      }(Encoders.scalaLong, Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .toDF(groupCol, tokenCol)
  }

  /** Continuous near-dup ingestion against the PERSISTED banded MinHash
    * store — the q99 lifecycle run as a stream. Each micro-batch is
    * absorbed against the bucketed store TABLE with
    * [[graft.functions.DedupOps.incrementalMinhashDedupBanded]] (the
    * store is reloaded per batch, so batch N+1 sees batch N's appends),
    * the batch's survivors are handed to `onSurvivors`, and the
    * survivors' banded signatures are appended to the store with the
    * SAME bucketing — the next absorb still reads a bucketed, map-only
    * store scan with zero store-side shuffle.
    *
    * The store IS the operator's state, but it lives in the warehouse
    * rather than a streaming state store: restart, executor loss, and a
    * second independent pipeline all see one consistent append-only
    * corpus memory, and the batch q67/q99 paths absorb against the very
    * same table. `foreachBatch` is the right harness — absorption is a
    * multi-stage join pipeline plus an external bucketed table write,
    * not expressible as a chained stateful streaming operator.
    *
    * Per-batch cost is O(increment): the store side is pruned to the
    * increment's (band, band_key) buckets via broadcast semi-join
    * before any scoring (see [[graft.functions.DedupOps.absorbDropIds]]).
    *
    * @param onSurvivors called once per micro-batch with (survivor rows
    *                    of that batch, batchId); survivors are already
    *                    eagerly materialized (checkpointed) frames
    */
  def dedupAgainstStore(docs: DataFrame, textCol: String, idCol: String,
                        storeTable: String, storeBuckets: Int = 8,
                        k: Int = 64, bands: Int = 16, ngram: Int = 3,
                        threshold: Double = 0.7)
                       (onSurvivors: (DataFrame, Long) => Unit): StreamingQuery = {
    val absorbBatch: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      val s = batch.sparkSession
      val store = graft.sources.TableStore.loadTable(s, storeTable)
      val (survivors, keptBanded) = graft.functions.DedupOps
        .incrementalMinhashDedupBanded(batch.toDF(), textCol, idCol, store,
          k, bands, ngram, threshold)
      graft.sources.TableStore.saveBucketed(keptBanded, storeTable,
        bucketCols = Seq("band", "band_key"), buckets = storeBuckets,
        mode = SaveMode.Append)
      onSurvivors(survivors, batchId)
    }
    docs.writeStream.outputMode("append").foreachBatch(absorbBatch).start()
  }

  /** ONE batch of streaming SEMANTIC dedup against the persisted CELL
    * store — the foreachBatch body of [[semanticDedupStream]], exposed so
    * a batch chain (and the q168 oracle gate) runs the IDENTICAL call
    * sequence the stream runs: load the (cid-bucketed) store table —
    * the [[graft.functions.SimilarityOps.ivfStore]] layout, shared with
    * the persisted ANN search — absorb the increment under the FROZEN
    * broadcast quantizer ([[graft.functions.SimilarityOps
    * .semanticDedupIncrement]]: store semi-joined to the increment's
    * touched cells only, O(increment × cell density)), and append the
    * survivors' (id, vec, cid) rows with the store's bucketing
    * preserved. State lives in the warehouse, not a streaming state
    * store, for the [[dedupAgainstStore]] reasons.
    *
    * @return the batch's survivors (with "cid"), eagerly materialized
    */
  def semanticDedupBatch(vecs: DataFrame, idCol: String, vecCol: String,
                         storeTable: String, centroids: DataFrame,
                         centroidIdCol: String, threshold: Double = 0.9,
                         buckets: Int = 8): DataFrame = {
    val s = vecs.sparkSession
    val store = graft.sources.TableStore.loadTable(s, storeTable)
    val (survivors, _) = graft.functions.SimilarityOps.semanticDedupIncrement(
      vecs, idCol, vecCol, store, centroids, centroidIdCol, threshold)
    val out = survivors.localCheckpoint(true)
    graft.sources.TableStore.saveBucketed(
      out.select(col(idCol), col(vecCol), col("cid")), storeTable,
      bucketCols = Seq("cid"), buckets = buckets, mode = SaveMode.Append)
    out
  }

  /** Continuous semantic dedup of an embedding stream against the
    * persisted cell store — the [[dedupAgainstStore]] lifecycle for
    * EMBEDDINGS: each micro-batch absorbs via [[semanticDedupBatch]], so
    * batch N+1's cell scan sees batch N's appended survivors, restarts
    * resume from the warehouse, and the batch q79/q168 paths (and the
    * persisted ANN search) read the very same table.
    *
    * @param onSurvivors called per micro-batch with (survivor rows with
    *                    their "cid", batchId)
    */
  def semanticDedupStream(vecs: DataFrame, idCol: String, vecCol: String,
                          storeTable: String, centroids: DataFrame,
                          centroidIdCol: String, threshold: Double = 0.9,
                          buckets: Int = 8)
                         (onSurvivors: (DataFrame, Long) => Unit): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      onSurvivors(semanticDedupBatch(batch.toDF(), idCol, vecCol, storeTable,
        centroids, centroidIdCol, threshold, buckets), batchId)
    }
    vecs.writeStream.outputMode("append").foreachBatch(body).start()
  }

  /** ONE batch of streaming IVF INGESTION — the foreachBatch body of
    * [[ivfAbsorbStream]], exposed so a batch chain (and the q180 oracle
    * gate) runs the IDENTICAL call sequence the stream runs: assign the
    * increment's vectors to their cells under the FROZEN broadcast
    * quantizer ([[graft.functions.SimilarityOps.ivfStore]] — map-only,
    * O(batch), no store read at all) and append the (id, vec, cid) rows
    * to the cid-bucketed store table. Unlike [[semanticDedupBatch]]
    * there is no admission decision, so absorption never touches
    * existing store rows — the cheapest leg of the store family.
    *
    * @return the appended rows (idCol, vecCol, "cid"), eagerly
    *         materialized
    */
  def ivfAbsorbBatch(vecs: DataFrame, idCol: String, vecCol: String,
                     storeTable: String, centroids: DataFrame,
                     centroidIdCol: String, buckets: Int = 8,
                     carryCols: Seq[String] = Nil,
                     epoch: Option[Long] = None): DataFrame = {
    val assigned = graft.functions.SimilarityOps
      .ivfStore(vecs, idCol, vecCol, centroids, centroidIdCol, carryCols)
    val rows = epoch.fold(assigned)(e => assigned.withColumn("epoch", lit(e)))
      .localCheckpoint(true)
    graft.sources.TableStore.saveBucketed(rows, storeTable,
      bucketCols = Seq("cid"), buckets = buckets, mode = SaveMode.Append)
    // a reader that cached this table's relation BEFORE the append (the
    // previous micro-batch's reads) would otherwise be served the stale
    // file listing on its next read — same discipline as the sketch
    // absorbs below
    vecs.sparkSession.catalog.refreshTable(storeTable)
    rows
  }

  /** Continuous ANN-index ingestion: an embedding stream absorbed into
    * the PERSISTED inverted file — each micro-batch lands via
    * [[ivfAbsorbBatch]] (frozen-quantizer cell assignment + bucketed
    * Append), so a concurrent [[graft.functions.SimilarityOps
    * .ivfSearchStore]] reader sees batch N's vectors as soon as batch N
    * commits, restarts resume from the warehouse, and the batch q165
    * lifecycle reads the very same table. State lives in the warehouse,
    * not a streaming state store, for the [[dedupAgainstStore]] reasons;
    * periodically [[graft.functions.SimilarityOps.ivfReindex]] (a batch
    * job) retrains the drifting quantizer.
    *
    * @param onAbsorbed called per micro-batch with (appended rows with
    *                   their "cid", batchId)
    */
  def ivfAbsorbStream(vecs: DataFrame, idCol: String, vecCol: String,
                      storeTable: String, centroids: DataFrame,
                      centroidIdCol: String, buckets: Int = 8)
                     (onAbsorbed: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      val landed = ivfAbsorbBatch(batch.toDF(), idCol, vecCol, storeTable,
        centroids, centroidIdCol, buckets)
      onAbsorbed(landed, batchId)
      // callback done; release the batch's checkpoint so an unbounded
      // stream holds zero per-batch block-manager blocks
      graft.functions.GraphOps.releaseLocalCheckpoint(landed)
    }
    vecs.writeStream.outputMode("append").foreachBatch(body).start()
  }

  /** ONE batch of streaming kNN-GRAPH maintenance — the foreachBatch
    * body of [[knnGraphAbsorbStream]], exposed so a batch chain (and the
    * q246 parity gate) runs the IDENTICAL call sequence: (1) the batch's
    * vectors land in the cid-bucketed vector store under the frozen
    * quantizer ([[ivfAbsorbBatch]] — ONE table serves the ANN search,
    * the semantic-dedup gate, AND the graph absorb's cell lookups);
    * (2) [[graft.functions.SimilarityOps.knnGraphAbsorb]] seeds the new
    * nodes from their cellmates, runs one touched-restricted NN-descent
    * round, and (3) only CHANGED nodes' full new top-k appends to the
    * probe-bucketed graph table at the next epoch (merge-on-read,
    * node-replacement live view — the [[absorbLabelsBatch]] discipline
    * for kNN edges).
    *
    * @return the appended graph delta rows, eagerly materialized */
  def knnGraphAbsorbBatch(newVecs: DataFrame, idCol: String, vecCol: String,
                          graphTable: String, vecStoreTable: String,
                          centroids: DataFrame, centroidIdCol: String,
                          k: Int = 10, buckets: Int = 8,
                          cellAssign: Option[DataFrame] = None): DataFrame = {
    val s = newVecs.sparkSession
    val landed = ivfAbsorbBatch(newVecs.select(col(idCol), col(vecCol)),
      idCol, vecCol, vecStoreTable, centroids, centroidIdCol, buckets)
    // this batch's reads must see the PREVIOUS batch's graph append: the
    // relation cached by that batch's pre-append read otherwise serves a
    // STALE file listing here — the epoch number repeats and the absorb
    // runs against a live view missing the prior merges (the q258
    // two-trigger gate caught exactly this; single-batch gates never
    // cross this boundary)
    s.catalog.refreshTable(graphTable)
    val store = graft.sources.TableStore.loadTable(s, vecStoreTable)
    val graph = graft.sources.TableStore.loadTable(s, graphTable)
    val nextEpoch = graph.agg(coalesce(max(col("epoch")), lit(0L)).as("e"))
      .head().getLong(0) + 1L
    // knnGraphAbsorb releases its own intermediates and returns an
    // eagerly-checkpointed delta, so `delta` here is a cheap projection
    // over the one pinned frame — no second checkpoint needed.
    val delta = graft.functions.SimilarityOps.knnGraphAbsorb(
        graft.functions.SimilarityOps.liveKnnGraph(graph),
        store.select(col(idCol), col(vecCol)),
        newVecs.select(col(idCol)),
        // default: the IVF store's frozen cid layout; a deployment with a
        // balanced (constant-occupancy) partition passes it explicitly
        cellAssign.getOrElse(store.select(col(idCol), col("cid"))),
        idCol, vecCol, k)
      .withColumn("epoch", lit(nextEpoch))
    graft.sources.TableStore.saveBucketed(delta, graphTable,
      bucketCols = Seq("probe_id"), buckets = buckets, mode = SaveMode.Append)
    // the landed vector rows served only the Append above — release them
    // so a continuous stream leaves no per-batch block residue
    graft.functions.GraphOps.releaseLocalCheckpoint(landed)
    delta
  }

  /** Continuous kNN-graph maintenance against the PERSISTED graph +
    * vector stores — the store family's streaming leg for nn-descent
    * graphs: each micro-batch of new vectors lands in the inverted file
    * and the graph absorbs it incrementally ([[knnGraphAbsorbBatch]]),
    * so a concurrent [[graft.functions.SimilarityOps.beamSearchTopKFrom]]
    * reader navigates batch N's nodes as soon as batch N commits and
    * restarts resume from the warehouse.
    *
    * @param onAbsorbed called per micro-batch with (graph delta, batchId) */
  def knnGraphAbsorbStream(vecs: DataFrame, idCol: String, vecCol: String,
                           graphTable: String, vecStoreTable: String,
                           centroids: DataFrame, centroidIdCol: String,
                           k: Int = 10, buckets: Int = 8,
                           cellAssign: Option[DataFrame] = None,
                           checkpointLocation: Option[String] = None)
                          (onAbsorbed: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      val delta = knnGraphAbsorbBatch(batch.toDF(), idCol, vecCol, graphTable,
        vecStoreTable, centroids, centroidIdCol, k, buckets, cellAssign)
      onAbsorbed(delta, batchId)
      // the callback has consumed the delta synchronously; release its
      // checkpoint so an unbounded stream holds ZERO per-batch blocks
      graft.functions.GraphOps.releaseLocalCheckpoint(delta)
    }
    val w = vecs.writeStream.outputMode("append").foreachBatch(body)
    // with a durable checkpoint, a restarted query resumes from the
    // offset log and MUST NOT re-absorb committed batches: the graph
    // Append is doubly non-idempotent — a replayed batch would both
    // repeat an epoch number and re-derive deltas against a graph that
    // already merged it (the q259 recovery gate pins this for the
    // ORDER-SENSITIVE state family)
    checkpointLocation.fold(w)(cl => w.option("checkpointLocation", cl))
      .start()
  }

  /** Continuous TEXT-INDEX ingestion: a document stream absorbed into
    * the persisted BM25 inverted index — each micro-batch lands via
    * [[graft.functions.RetrievalOps.bm25IndexAbsorb]] (the batch's
    * postings append term-bucketed, its integer (n_docs, sum_dl) stats
    * row appends to `<table>_stats`), so a concurrent
    * [[graft.functions.RetrievalOps.bm25SearchStore]] reader scores
    * batch N's documents with EXACT corpus statistics as soon as batch
    * N commits — the stats rows recompose n_docs/avgdl exactly under
    * any batch split, which is what makes streaming ingestion
    * score-identical to a one-shot index (the q217 parity gate).
    * State lives in the warehouse, not a streaming state store, for
    * the [[dedupAgainstStore]] reasons.
    *
    * @param onAbsorbed called per micro-batch with its batchId
    */
  def bm25AbsorbStream(docs: DataFrame, idCol: String, textCol: String,
                       indexTable: String, buckets: Int = 8,
                       checkpointLocation: Option[String] = None)
                      (onAbsorbed: Long => Unit = _ => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      graft.functions.RetrievalOps.bm25IndexAbsorb(batch.toDF(), idCol,
        textCol, indexTable, buckets)
      onAbsorbed(batchId)
    }
    val w = docs.writeStream.outputMode("append").foreachBatch(body)
    // with a durable checkpoint, a restarted query resumes from the
    // offset log and MUST NOT re-absorb committed batches (the store
    // Append is not idempotent — the q250 recovery gate pins this)
    checkpointLocation.fold(w)(cl => w.option("checkpointLocation", cl))
      .start()
  }

  /** Continuous TRAINING-DATA ADMISSION — a document stream driven
    * through a caller-supplied admission body (the q254 chain: dedup vs
    * the signature store, frozen quality scorer, budget admission
    * against consumed mass) one micro-batch at a time. The body reads
    * and appends PERSISTED state only, so restarts resume from the
    * warehouse plus the stream checkpoint.
    *
    * This family is in the ORDER-SENSITIVE recovery class (q259's, not
    * q250's): the admitted-set Append is non-idempotent THROUGH THE
    * BUDGET — a replayed batch would re-admit rows against a consumed
    * mass that already includes it, and batch order decides which docs
    * fit under the per-source budget. With a durable
    * `checkpointLocation` the offset log guarantees each batch commits
    * exactly once, in order — the q261 gate kills the query between two
    * batches and pins the resumed store against the one-shot oracle.
    *
    * @param body called per micro-batch with (batch rows, batchId);
    *             must refresh any table it appends and re-reads across
    *             batch boundaries (the [[knnGraphAbsorbBatch]] stale-
    *             listing discipline) */
  def admissionAbsorbStream(docs: DataFrame,
                            checkpointLocation: Option[String] = None)
                           (body: (DataFrame, Long) => Unit): StreamingQuery = {
    val b: (Dataset[Row], Long) => Unit = (batch, id) => body(batch.toDF(), id)
    val w = docs.writeStream.outputMode("append").foreachBatch(b)
    checkpointLocation.fold(w)(cl => w.option("checkpointLocation", cl))
      .start()
  }

  /** ONE batch of CDC-DRIVEN kNN-graph maintenance — the foreachBatch
    * body of [[knnGraphCdcStream]], exposed so a batch chain (and the
    * q263 parity gate) runs the IDENTICAL call sequence. The batch is an
    * OP-TAGGED changefeed: `opCol` holds `I` (insert), `D` (delete) or
    * `U` (re-embed update, below) per row:
    *
    *  - INSERTS land in the vector store and absorb into the graph via
    *    the [[knnGraphAbsorbBatch]] sequence, scoring against the LIVE
    *    vector set (store minus vector tombstones);
    *  - DELETES repair the graph via [[graft.functions.SimilarityOps
    *    .knnGraphDelete]] (victim-adjacency proposals, lone-pool
    *    fallback), append the repaired top-k at the next epoch, and
    *    tombstone the victims in BOTH stores — (probe_id, before_epoch)
    *    rows for the graph's [[graft.sources.TableStore.liveView]], a
    *    plain id set for the epoch-less vector store.
    *
    * Within one batch inserts apply BEFORE deletes (the deterministic
    * order a Delete+Insert update needs is across batches, which the
    * stream's serial foreachBatch provides). Every read refreshes the
    * tables the previous batch appended (the stale-listing discipline).
    *
    * `versionedVecStore = true` switches the VECTOR store from the
    * epoch-less (plain-id-tombstone) layout to an EPOCHED one — rows
    * carry `epoch`, tombstones are (`idCol`, `before_epoch`), live =
    * [[graft.sources.TableStore.liveView]]. The plain layout cannot
    * RE-INSERT a previously deleted id (its tombstone hides every row of
    * that id forever), so the epoched layout is what makes the
    * Delete+Insert UPDATE — re-embedding a live document — expressible:
    * the replacement row lands at a higher epoch than the tombstone's
    * `before_epoch` and is visible, the stale version stays hidden.
    * Both stores share the graph's monotone epoch counter. */
  def knnGraphCdcBatch(batch: DataFrame, idCol: String, vecCol: String,
                       opCol: String, graphTable: String,
                       vecStoreTable: String, vecTombTable: String,
                       graphTombTable: String, centroids: DataFrame,
                       centroidIdCol: String, k: Int = 10, buckets: Int = 8,
                       cellAssign: Option[DataFrame] = None,
                       versionedVecStore: Boolean = false): Unit = {
    val s = batch.sparkSession
    import graft.functions.SimilarityOps
    import graft.sources.TableStore
    Seq(graphTable, vecStoreTable, vecTombTable, graphTombTable)
      .foreach(s.catalog.refreshTable)
    def liveVecs(): DataFrame =
      if (versionedVecStore)
        TableStore.liveView(TableStore.loadTable(s, vecStoreTable),
          TableStore.loadTable(s, vecTombTable), idCol, "epoch")
          .select(col(idCol), col(vecCol))
      else TableStore.loadTable(s, vecStoreTable)
        .join(TableStore.loadTable(s, vecTombTable), Seq(idCol), "left_anti")
        .select(col(idCol), col(vecCol))
    def liveGraph(): DataFrame = SimilarityOps.liveKnnGraph(
      TableStore.liveView(TableStore.loadTable(s, graphTable),
        TableStore.loadTable(s, graphTombTable), "probe_id", "epoch"))
    // The counter must exceed EVERY epoch any of the four tables has
    // seen, not just the graph's max: a batch whose graph delta is
    // empty (near-empty corpus, all-duplicate absorb) still lands
    // tombstones stamped with this counter, and a later tombstone whose
    // before_epoch merely EQUALS an earlier row's epoch fails liveView's
    // strict `<` — a delete that silently doesn't delete. One
    // epoch-column-only union-scan (column-pruned) per leg keeps the
    // monotone guarantee without a persisted counter.
    def nextEpoch(): Long = {
      val epochs = Seq(
        TableStore.loadTable(s, graphTable)
          .select(col("epoch").cast("long").as("__e")),
        TableStore.loadTable(s, graphTombTable)
          .select(col("before_epoch").cast("long").as("__e"))) ++
        (if (versionedVecStore) Seq(
          TableStore.loadTable(s, vecStoreTable)
            .select(col("epoch").cast("long").as("__e")),
          TableStore.loadTable(s, vecTombTable)
            .select(col("before_epoch").cast("long").as("__e")))
        else Nil)
      epochs.reduce(_ unionByName _)
        .agg(coalesce(max(col("__e")), lit(0L)).as("e")).head().getLong(0) + 1L
    }
    def insertLeg(ins: DataFrame): Unit = {
      // one shared epoch for the vector rows and the graph delta — the
      // counter is read ONCE so the two can never desynchronize
      val epoch = nextEpoch()
      val landed = ivfAbsorbBatch(ins, idCol, vecCol, vecStoreTable,
        centroids, centroidIdCol, buckets,
        epoch = if (versionedVecStore) Some(epoch) else None)
      // default cell assignment comes from the LIVE store view: under
      // the versioned layout a re-inserted id's tombstoned old version
      // still has a (id, cid) row in the raw table, and absorbing
      // against both cells would break the frozen-quantizer contract
      val cellsDf = cellAssign.getOrElse {
        val st = TableStore.loadTable(s, vecStoreTable)
        (if (versionedVecStore)
          TableStore.liveView(st, TableStore.loadTable(s, vecTombTable),
            idCol, "epoch")
        else st).select(col(idCol), col("cid"))
      }
      val delta = SimilarityOps.knnGraphAbsorb(liveGraph(), liveVecs(),
          ins.select(col(idCol)), cellsDf, idCol, vecCol, k)
        .withColumn("epoch", lit(epoch))
      TableStore.saveBucketed(delta, graphTable,
        bucketCols = Seq("probe_id"), buckets = buckets, mode = SaveMode.Append)
      s.catalog.refreshTable(graphTable)
      graft.functions.GraphOps.releaseLocalCheckpoint(landed)
      graft.functions.GraphOps.releaseLocalCheckpoint(delta)
    }
    def deleteLeg(del: DataFrame): Unit = {
      val epoch = nextEpoch()
      val delta = SimilarityOps.knnGraphDelete(liveGraph(), liveVecs(),
          del, idCol, vecCol, k)
        .withColumn("epoch", lit(epoch))
      TableStore.saveBucketed(delta, graphTable,
        bucketCols = Seq("probe_id"), buckets = buckets, mode = SaveMode.Append)
      TableStore.saveBucketed( // graph tombstones: hide rows below epoch
        del.select(col(idCol).as("probe_id"), lit(epoch).as("before_epoch")),
        graphTombTable, bucketCols = Seq("probe_id"), buckets = buckets,
        mode = SaveMode.Append)
      TableStore.saveBucketed( // vector tombstones: plain ids, or
        // (id, before_epoch) when the vector store is versioned — the
        // layout that lets a later re-insert of the same id stay visible
        if (versionedVecStore)
          del.select(col(idCol), lit(epoch).as("before_epoch"))
        else del.select(col(idCol)),
        vecTombTable, bucketCols = Seq(idCol),
        buckets = buckets, mode = SaveMode.Append)
      Seq(graphTable, graphTombTable, vecTombTable)
        .foreach(s.catalog.refreshTable)
      graft.functions.GraphOps.releaseLocalCheckpoint(delta)
    }
    // ONE eager materialization of the (delta-sized) batch + ONE
    // op-presence aggregate replace three separate isEmpty scans of the
    // stream source, and every leg reads the in-memory blocks instead of
    // re-scanning the source files (r16: the CDC gates are JOB-bound at
    // the micro-batch boundary — guide §1.2-1, fewer scheduled jobs)
    val b0 = batch.select(col(opCol), col(idCol), col(vecCol))
      .localCheckpoint(true)
    val present = b0.select(col(opCol)).distinct().collect()
      .map(_.getString(0)).toSet
    val ins = b0.where(col(opCol) === "I").select(col(idCol), col(vecCol))
    val del = b0.where(col(opCol) === "D").select(col(idCol))
    val upd = b0.where(col(opCol) === "U").select(col(idCol), col(vecCol))
    // refuse BEFORE any leg commits: the Appends are non-idempotent, so
    // a half-applied batch that then throws would double-apply on the
    // stream's replay. Only the versioned vector store can serve an
    // update's replacement row (a plain-id tombstone hides it forever).
    require(versionedVecStore || !present("U"),
      "op 'U' (re-embed update) requires versionedVecStore = true")
    if (present("I")) insertLeg(ins)
    if (present("D")) deleteLeg(del)
    if (present("U")) {
      // an UPDATE is delete-repair of the OLD version, then the NEW
      // version landing and absorbing — within one batch, in that order
      // (the reverse of the I-before-D convention above: an update's
      // insert must score against the graph its own delete repaired).
      deleteLeg(upd.select(col(idCol)))
      insertLeg(upd)
    }
    graft.functions.GraphOps.releaseLocalCheckpoint(b0)
  }

  /** Continuous CDC maintenance of the persisted ANN index — one
    * op-tagged stream (inserts AND deletes) maintaining the vector
    * store + kNN-graph store pair via [[knnGraphCdcBatch]]. This is the
    * full deployment loop: new vectors become navigable as their batch
    * commits, removed vectors vanish from serving (tombstones) AND from
    * every survivor's neighbor list (repair) — no rebuild, no downtime.
    *
    * ORDER-SENSITIVE recovery class (see README's recovery table): a
    * delete's repair reads the graph state every prior batch built, and
    * the Append is doubly non-idempotent. With a durable
    * `checkpointLocation` a restarted query resumes exactly after the
    * last committed batch — the q263 gate kills the query between the
    * insert batch and the delete batch and pins the resumed store
    * against the batch-sequence oracle. */
  def knnGraphCdcStream(events: DataFrame, idCol: String, vecCol: String,
                        opCol: String, graphTable: String,
                        vecStoreTable: String, vecTombTable: String,
                        graphTombTable: String, centroids: DataFrame,
                        centroidIdCol: String, k: Int = 10, buckets: Int = 8,
                        cellAssign: Option[DataFrame] = None,
                        checkpointLocation: Option[String] = None,
                        versionedVecStore: Boolean = false)
                       (onBatch: Long => Unit = _ => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      knnGraphCdcBatch(batch.toDF(), idCol, vecCol, opCol, graphTable,
        vecStoreTable, vecTombTable, graphTombTable, centroids,
        centroidIdCol, k, buckets, cellAssign, versionedVecStore)
      onBatch(batchId)
    }
    val w = events.writeStream.outputMode("append").foreachBatch(body)
    checkpointLocation.fold(w)(cl => w.option("checkpointLocation", cl))
      .start()
  }

  /** ONE batch of CDC-driven MaxSim TOKEN-STORE maintenance — the
    * delete/update leg the late-interaction serving store (q270's IVF
    * token store with a doc_id carry column) was missing: the
    * [[knnGraphCdcBatch]] discipline applied to a store whose unit of
    * CHANGE is a document but whose unit of STORAGE is a token row.
    * The batch is an op-tagged changefeed of TOKEN rows (every row of
    * one document shares the op):
    *
    *  - INSERTS land each token under the frozen quantizer via
    *    [[ivfAbsorbBatch]] (per-token cell assignment + doc carry) at
    *    one shared epoch;
    *  - DELETES tombstone the DOCUMENT: one (`docCol`, `before_epoch`)
    *    row hides every token row of that doc in [[graft.sources
    *    .TableStore.liveView]] keyed on the doc — a takedown drops the
    *    whole token bag (and its PQ codes, below) from serving without
    *    touching token payloads;
    *  - UPDATES (re-embed: the doc's NEW token bag) are delete+insert
    *    at ONE SHARED epoch: the tombstone's `before_epoch = e` hides
    *    every older version (strict `<`) while the replacement rows
    *    land AT `e` and stay visible — the atomic single-epoch form of
    *    the q269 versioned-store pattern (no intermediate state in
    *    which the doc is absent).
    *
    * When `codesTable`/`codebook` are supplied the PQ-compressed stage-1
    * companion (q272's codes) is maintained IN THE SAME BATCH at the
    * same epochs: inserted/updated tokens encode against the FROZEN
    * codebook and append (tok, doc, codes, epoch); the doc-keyed
    * tombstone table is SHARED, so one delete hides the raw tokens and
    * their codes together — the two serving representations cannot
    * desynchronize.
    *
    * Epochs derive from the max over the store, tombstone, AND codes
    * tables (the [[knnGraphCdcBatch]] monotonicity rule), read once per
    * leg. Within a batch: I, then D, then U.
    *
    * Scale shape: every leg is increment-sized — assignment joins the
    * batch against broadcast centroids, tombstones are one row per doc,
    * and nothing reads the store beyond its epoch column. */
  def maxSimTokenCdcBatch(batch: DataFrame, docCol: String, tokCol: String,
                          vecCol: String, opCol: String,
                          tokStoreTable: String, tokTombTable: String,
                          centroids: DataFrame, centroidIdCol: String,
                          buckets: Int = 8,
                          codesTable: Option[String] = None,
                          codebook: Option[DataFrame] = None,
                          pqM: Int = 4, pqDim: Int = 16): Unit = {
    val s = batch.sparkSession
    import graft.sources.TableStore
    require(codesTable.isEmpty == codebook.isEmpty,
      "codesTable and codebook must be supplied together")
    (Seq(tokStoreTable, tokTombTable) ++ codesTable)
      .foreach(s.catalog.refreshTable)
    def nextEpoch(): Long = {
      val frames = Seq(
        TableStore.loadTable(s, tokStoreTable)
          .select(col("epoch").cast("long").as("__e")),
        TableStore.loadTable(s, tokTombTable)
          .select(col("before_epoch").cast("long").as("__e"))) ++
        codesTable.map(t => TableStore.loadTable(s, t)
          .select(col("epoch").cast("long").as("__e")))
      frames.reduce(_ unionByName _)
        .agg(coalesce(max(col("__e")), lit(0L)).as("e")).head().getLong(0) + 1L
    }
    def landTokens(rows: DataFrame, epoch: Long): Unit = {
      ivfAbsorbBatch(rows.select(col(tokCol), col(vecCol), col(docCol)),
        tokCol, vecCol, tokStoreTable, centroids, centroidIdCol, buckets,
        carryCols = Seq(docCol), epoch = Some(epoch)): Unit
      for { ct <- codesTable; cb <- codebook } {
        val codes = graft.functions.PqOps
          .pqEncode(rows, tokCol, vecCol, cb, pqM, pqDim)
          .join(rows.select(col(tokCol), col(docCol)), Seq(tokCol))
          .withColumn("epoch", lit(epoch))
          .localCheckpoint(true) // materialize BEFORE the append lands
        TableStore.saveBucketed(codes, ct, bucketCols = Seq(tokCol),
          buckets = buckets, mode = SaveMode.Append)
        s.catalog.refreshTable(ct)
        graft.functions.GraphOps.releaseLocalCheckpoint(codes)
      }
    }
    def tombDocs(docs: DataFrame, epoch: Long): Unit = {
      TableStore.saveBucketed(
        docs.select(col(docCol), lit(epoch).as("before_epoch")).distinct(),
        tokTombTable, bucketCols = Seq(docCol), buckets = buckets,
        mode = SaveMode.Append)
      s.catalog.refreshTable(tokTombTable)
    }
    // one materialization + one op-presence aggregate for the whole
    // batch (the knnGraphCdcBatch r16 discipline)
    val b0 = batch.localCheckpoint(true)
    val present = b0.select(col(opCol)).distinct().collect()
      .map(_.getString(0)).toSet
    val ins = b0.where(col(opCol) === "I")
    val del = b0.where(col(opCol) === "D")
    val upd = b0.where(col(opCol) === "U")
    if (present("I")) landTokens(ins, nextEpoch())
    if (present("D")) tombDocs(del, nextEpoch())
    if (present("U")) {
      // shared-epoch atomic re-embed: tombstone and replacement rows
      // carry the SAME counter value — old rows (epoch < e) hidden, new
      // rows (epoch = e) live under liveView's strict `<`
      val e = nextEpoch()
      tombDocs(upd, e)
      landTokens(upd, e)
    }
    graft.functions.GraphOps.releaseLocalCheckpoint(b0)
  }

  /** Continuous CDC maintenance of the MaxSim serving store — one
    * op-tagged token-row stream maintaining the IVF token store (+
    * optional PQ codes companion) via [[maxSimTokenCdcBatch]]. Same
    * recovery class as [[knnGraphCdcStream]]: the Appends are
    * non-idempotent, so a durable `checkpointLocation` is what makes a
    * kill/resume exactly-once — the q276 gate kills the query between
    * the insert batch and the delete+re-embed batch and pins the
    * resumed store's serving read against the one-shot oracle over the
    * final corpus (the q273 law extended to a MUTATED corpus). */
  def maxSimTokenCdcStream(events: DataFrame, docCol: String, tokCol: String,
                           vecCol: String, opCol: String,
                           tokStoreTable: String, tokTombTable: String,
                           centroids: DataFrame, centroidIdCol: String,
                           buckets: Int = 8,
                           codesTable: Option[String] = None,
                           codebook: Option[DataFrame] = None,
                           pqM: Int = 4, pqDim: Int = 16,
                           checkpointLocation: Option[String] = None)
                          (onBatch: Long => Unit = _ => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      maxSimTokenCdcBatch(batch.toDF(), docCol, tokCol, vecCol, opCol,
        tokStoreTable, tokTombTable, centroids, centroidIdCol, buckets,
        codesTable, codebook, pqM, pqDim)
      onBatch(batchId)
    }
    val w = events.writeStream.outputMode("append").foreachBatch(body)
    checkpointLocation.fold(w)(cl => w.option("checkpointLocation", cl))
      .start()
  }

  /** ONE batch of SINGLE-CHANGEFEED MULTI-INDEX maintenance — the
    * production shape: a corpus has ONE op-tagged changefeed, and every
    * serving index family advances from it per batch, together. Events
    * are document-level (op, id, text, vector); the batch advances:
    *
    *   1. the VECTOR STORE + kNN GRAPH pair — the full
    *      [[knnGraphCdcBatch]] discipline (insert absorb, delete
    *      neighborhood repair, dual tombstones);
    *   2. the BM25 INVERTED INDEX — inserts via
    *      [[graft.functions.RetrievalOps.bm25IndexAbsorb]], deletes via
    *      [[graft.functions.RetrievalOps.bm25IndexDelete]] (doc-keyed
    *      tombstones + negated stats rows);
    *   3. the MinHash SIGNATURE STORE — inserts append the batch's
    *      banded signatures at the store's next epoch, deletes append
    *      (id, before_epoch) tombstones for [[graft.functions.DedupOps
    *      .liveStore]];
    *   4. (when `tokStoreTable`/`tokTombTable`/`tokCentroids` are
    *      supplied) the MaxSim TOKEN STORE — the late-interaction
    *      serving family: each document's DISTINCT-token bag becomes
    *      deterministic hash vectors ([[graft.functions.TextFunctions
    *      .tokenHashVector]] — the q275 text→vector path; a real
    *      encoder drops in by replacing that one column) and the bag
    *      is maintained by the full [[maxSimTokenCdcBatch]] discipline
    *      (inserts land under the frozen token quantizer; one
    *      doc-keyed tombstone hides the whole bag).
    *
    * Within the batch every family applies inserts before deletes (the
    * [[knnGraphCdcBatch]] convention), and the foreachBatch commit
    * makes the advance atomic at batch granularity: after any
    * kill/resume, EVERY family has applied exactly the same batch
    * prefix — a doc can never be deleted from BM25 yet still navigable
    * in the graph across a restart (the q277 gate pins all four
    * families' live id sets against each other at the restart boundary
    * AND at the final state).
    *
    * Op "U" is refused: a joint text+vector re-embed needs versioned
    * layouts in every family (the vector/token stores have them —
    * q269/q276; plain BM25/signature tombstones hide a re-inserted id
    * forever), and the refusal happens BEFORE any leg commits, for the
    * [[knnGraphCdcBatch]] half-applied-batch reasons. Deleted ids must
    * not re-insert under the plain layouts.
    *
    * Scale shape: each leg is increment-sized (the composed operators'
    * own disciplines); nothing here adds a corpus-sized term. */
  def multiIndexCdcBatch(batch: DataFrame, idCol: String, textCol: String,
                         vecCol: String, opCol: String,
                         graphTable: String, vecStoreTable: String,
                         vecTombTable: String, graphTombTable: String,
                         centroids: DataFrame, centroidIdCol: String,
                         bm25Table: String, bm25TombTable: String,
                         sigTable: String, sigTombTable: String,
                         k: Int = 10, buckets: Int = 8,
                         cellAssign: Option[DataFrame] = None,
                         minhashK: Int = 64, bands: Int = 16,
                         ngram: Int = 3,
                         tokStoreTable: Option[String] = None,
                         tokTombTable: Option[String] = None,
                         tokCentroids: Option[DataFrame] = None,
                         tokCentroidIdCol: String = "tok",
                         tokCentroidVecCol: String = "tv",
                         tokDim: Int = 16, tokPerDoc: Int = 4): Unit = {
    val s = batch.sparkSession
    import graft.sources.TableStore
    require(tokStoreTable.isEmpty == tokTombTable.isEmpty &&
      tokStoreTable.isEmpty == tokCentroids.isEmpty,
      "tokStoreTable, tokTombTable and tokCentroids must be supplied together")
    // one materialization + one op-presence aggregate for the whole
    // batch; every family leg reads the in-memory blocks (r16 — the
    // multi-index batch otherwise scanned the stream source ~9 times)
    val b0 = batch.localCheckpoint(true)
    val present = b0.select(col(opCol)).distinct().collect()
      .map(_.getString(0)).toSet
    require(!present("U"),
      "multiIndexCdcBatch: op 'U' needs versioned layouts in every " +
        "family — re-embed flows through the per-family versioned stores")
    val ins = b0.where(col(opCol) === "I")
    val del = b0.where(col(opCol) === "D")
    val hasIns = present("I")
    val hasDel = present("D")
    // The four family legs write DISJOINT table sets and read only the
    // in-memory b0 blocks plus tables they alone write, so their
    // (job-bound, increment-sized) job storms overlap — guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially. Each leg stays internally sequential (inserts
    // before deletes within a family, each family's own epoch reads),
    // so every table's contents are bit-identical to the sequential
    // schedule; cross-leg saveAsTable cache invalidation cannot race
    // because no leg reads another leg's tables.
    val legs = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    // 1. vector store + kNN graph (its own epoch discipline)
    legs += (() =>
      knnGraphCdcBatch(b0.select(col(opCol), col(idCol), col(vecCol)),
        idCol, vecCol, opCol, graphTable, vecStoreTable, vecTombTable,
        graphTombTable, centroids, centroidIdCol, k, buckets, cellAssign))
    // 2. BM25 postings + stats (tombstones + negative stats merges)
    legs += { () =>
      if (hasIns)
        graft.functions.RetrievalOps.bm25IndexAbsorb(ins, idCol, textCol,
          bm25Table, buckets)
      if (hasDel)
        graft.functions.RetrievalOps.bm25IndexDelete(del, idCol, textCol,
          bm25Table, bm25TombTable, buckets)
    }
    // 3. signature store (epoch-appended rows + (id, before_epoch) tombs)
    legs += { () =>
      Seq(sigTable, sigTombTable).foreach(s.catalog.refreshTable)
      def sigEpoch(): Long = TableStore.loadTable(s, sigTable)
        .select(col("epoch").cast("long").as("__e"))
        .unionByName(TableStore.loadTable(s, sigTombTable)
          .select(col("before_epoch").cast("long").as("__e")))
        .agg(coalesce(max(col("__e")), lit(0L)).as("e")).head().getLong(0) + 1L
      if (hasIns) {
        TableStore.saveBucketed(
          graft.functions.DedupOps.minhashStore(
              ins.withColumnRenamed(idCol, "id"), textCol, "id",
              minhashK, bands, ngram)
            .withColumn("epoch", lit(sigEpoch())),
          sigTable, bucketCols = Seq("band", "band_key"), buckets = buckets,
          mode = SaveMode.Append)
        s.catalog.refreshTable(sigTable)
      }
      if (hasDel) {
        TableStore.saveBucketed(
          del.select(col(idCol).as("id"), lit(sigEpoch()).as("before_epoch"))
            .distinct(),
          sigTombTable, bucketCols = Seq("id"), buckets = buckets,
          mode = SaveMode.Append)
        s.catalog.refreshTable(sigTombTable)
      }
    }
    // 4. MaxSim token store — the doc-level events re-expressed as the
    //    token-row changefeed maxSimTokenCdcBatch expects: one distinct
    //    (op, doc, token) row per surface form, hash-vectorized; delete
    //    rows only contribute their doc id (the tombstone hides the bag)
    for { tt <- tokStoreTable; tb <- tokTombTable; tc <- tokCentroids } legs += { () =>
      // token rows carry the STORE's column names (tok_uid, tv) — the
      // leg appends into the base store table, so schemas must line up.
      // Row identity is the (doc, token) PAIR (the q275 convention),
      // hashed to one id column: the assignment pass keys per-row on
      // idCol, and a bare surface form collides across documents.
      // The bag is capped at `tokPerDoc` representative tokens
      // (deterministic: first by surface form — the ColBERTer-style
      // bag reduction), so the family's data term stays
      // embeddings-scale instead of corpus-token-scale; full-bag
      // serving is the q270 family's own gate.
      val wTok = org.apache.spark.sql.expressions.Window
        .partitionBy(col(opCol), col(idCol)).orderBy(col("__tok").asc)
      val tokRows = b0
        .select(col(opCol), col(idCol),
          explode(graft.functions.TextFunctions.tokens(lower(col(textCol))))
            .as("__tok"))
        .distinct()
        .withColumn("__trn", row_number().over(wTok))
        .where(col("__trn") <= tokPerDoc).drop("__trn")
        .withColumn("tok_uid", graft.functions.DedupOps.hash60(
          concat_ws(":", lit("tkid"), col(idCol), col("__tok"))))
        .withColumn("tv",
          graft.functions.TextFunctions.tokenHashVector(col("__tok"), tokDim))
      // the frozen quantizer's vector column rides under the token rows'
      // vec name (ivfStore reads centroids by the corpus vecCol)
      val cent = tc.select(col(tokCentroidIdCol).as("__tcid"),
        col(tokCentroidVecCol).as("tv"))
      maxSimTokenCdcBatch(tokRows, idCol, "tok_uid", "tv", opCol,
        tt, tb, cent, "__tcid", buckets)
    }
    runConcurrently(legs.toSeq)
    graft.functions.GraphOps.releaseLocalCheckpoint(b0)
  }

  /** Run independent per-batch legs concurrently (guide §2.6). Every leg
    * is awaited — even after one fails — so no leg is still writing when
    * the batch returns or throws; the first failure is rethrown, which
    * fails the batch exactly as the sequential schedule did (a mid-batch
    * failure leaves some legs applied in EITHER schedule — the
    * non-idempotent-append replay hazard the CDC docs already own). */
  private[graft] def runConcurrently(legs: Seq[() => Unit]): Unit =
    if (legs.sizeIs <= 1) legs.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(legs.size)
      try {
        val futs = legs.map(l => pool.submit(
          new java.util.concurrent.Callable[Unit] { def call(): Unit = l() }))
        val errs = futs.flatMap(f =>
          try { f.get(); None }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Some(Option(e.getCause).getOrElse(e))
          })
        errs.headOption.foreach(throw _)
      } finally pool.shutdown()
    }

  /** Continuous single-changefeed maintenance of ALL serving index
    * families via [[multiIndexCdcBatch]]. ORDER-SENSITIVE recovery
    * class (the graph leg reads prior batches' merges; every Append is
    * non-idempotent): with a durable `checkpointLocation` a restarted
    * query resumes exactly after the last committed batch — and because
    * all families advance inside ONE foreachBatch commit, they resume
    * mutually consistent (the q277 gate kills between the insert batch
    * and the delete batch and pins every family's live id set at that
    * boundary). */
  def multiIndexCdcStream(events: DataFrame, idCol: String, textCol: String,
                          vecCol: String, opCol: String,
                          graphTable: String, vecStoreTable: String,
                          vecTombTable: String, graphTombTable: String,
                          centroids: DataFrame, centroidIdCol: String,
                          bm25Table: String, bm25TombTable: String,
                          sigTable: String, sigTombTable: String,
                          k: Int = 10, buckets: Int = 8,
                          cellAssign: Option[DataFrame] = None,
                          minhashK: Int = 64, bands: Int = 16,
                          ngram: Int = 3,
                          tokStoreTable: Option[String] = None,
                          tokTombTable: Option[String] = None,
                          tokCentroids: Option[DataFrame] = None,
                          tokCentroidIdCol: String = "tok",
                          tokCentroidVecCol: String = "tv",
                          tokDim: Int = 16, tokPerDoc: Int = 4,
                          checkpointLocation: Option[String] = None)
                         (onBatch: Long => Unit = _ => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      multiIndexCdcBatch(batch.toDF(), idCol, textCol, vecCol, opCol,
        graphTable, vecStoreTable, vecTombTable, graphTombTable, centroids,
        centroidIdCol, bm25Table, bm25TombTable, sigTable, sigTombTable,
        k, buckets, cellAssign, minhashK, bands, ngram,
        tokStoreTable, tokTombTable, tokCentroids, tokCentroidIdCol,
        tokCentroidVecCol, tokDim, tokPerDoc)
      onBatch(batchId)
    }
    val w = events.writeStream.outputMode("append").foreachBatch(body)
    checkpointLocation.fold(w)(cl => w.option("checkpointLocation", cl))
      .start()
  }

  /** Continuous CO-OCCURRENCE ingestion: a document stream absorbed
    * into the persisted (w1, w2) pair-count store — each micro-batch
    * lands via [[graft.functions.TextFunctions.cooccurrenceAbsorb]]
    * (one batch-local pair-count aggregate + bucketed Append). Counts
    * are pure sums, so the stream-built store's
    * [[graft.functions.TextFunctions.ppmiFromStore]] read is
    * hash-identical to a one-shot [[graft.functions.TextFunctions
    * .cooccurrencePpmi]] over the union regardless of trigger
    * boundaries (the q231 parity gate) — the same mergeability
    * argument as [[bm25AbsorbStream]]'s stats rows, for the simplest
    * possible state.
    *
    * @param onAbsorbed called per micro-batch with its batchId */
  def cooccurrenceAbsorbStream(docs: DataFrame, textCol: String,
                               table: String, window: Int = 2,
                               buckets: Int = 8,
                               checkpointLocation: Option[String] = None)
                              (onAbsorbed: Long => Unit = _ => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      graft.functions.TextFunctions.cooccurrenceAbsorb(batch.toDF(), textCol,
        table, window, buckets)
      onAbsorbed(batchId)
    }
    val w = docs.writeStream.outputMode("append").foreachBatch(body)
    checkpointLocation.fold(w)(cl => w.option("checkpointLocation", cl))
      .start()
  }

  /** ONE batch of KMV sketch-store maintenance — the mergeability of
    * [[graft.functions.SketchOps.kmvSketch]] made operational: sketch
    * the batch, then per group keep the k smallest of (store ∪ batch)
    * values — by the KMV merge theorem bottom-k(bottom-k(A) ∪
    * bottom-k(B)) = bottom-k(A ∪ B), so ANY ingestion order converges
    * to the one-shot corpus sketch exactly (the q187 parity gate).
    *
    * The store's `nd` is CAPPED at k+1 ("truncated" marker): an exact
    * cross-batch distinct count would need all hashes, but the
    * estimators only ever test `nd <= k` — below the cap the sketch IS
    * the full value set so the exact count is recoverable, above it the
    * estimator branch never reads it. Merge rule: both sides below the
    * cap → |value union| (exact, capped); anything else → k+1.
    *
    * The store is GROUPS-sized (groups × k longs), so each batch
    * rewrites it whole (Overwrite behind the eager checkpoint) — the
    * opposite discipline from the corpus-sized epoch-append stores, and
    * the right one: merge-on-read bookkeeping would cost more than the
    * table. Corpus cost per batch is one distinct + bottom-k aggregate
    * over the BATCH only.
    *
    * @return the merged store rows (g, ks, nd), eagerly materialized */
  def kmvAbsorbBatch(rows: DataFrame, groupCol: String, keyCol: String,
                     storeTable: String, k: Int = 16): DataFrame = {
    val s = rows.sparkSession
    val b = graft.functions.SketchOps.kmvSketch(rows, groupCol, keyCol, k)
      .select(col("g"), col("ks"), least(col("nd"), lit(k + 1L)).as("nd"))
    val merged = if (s.catalog.tableExists(storeTable)) {
      s.table(storeTable)
        .select(col("g"), col("ks").as("__ka"), col("nd").as("__nda"))
        .join(b.select(col("g"), col("ks").as("__kb"), col("nd").as("__ndb")),
          Seq("g"), "full")
        .select(col("g"),
          when(col("__ka").isNull, col("__kb"))
            .when(col("__kb").isNull, col("__ka"))
            .otherwise(slice(array_sort(array_union(col("__ka"), col("__kb"))), 1, k))
            .as("ks"),
          when(col("__ka").isNull, col("__ndb"))
            .when(col("__kb").isNull, col("__nda"))
            .when(col("__nda") <= k && col("__ndb") <= k,
              least(size(array_union(col("__ka"), col("__kb"))).cast("long"),
                lit(k + 1L)))
            .otherwise(lit(k + 1L)).as("nd"))
    } else b
    val out = merged.localCheckpoint(true) // break lineage BEFORE overwrite
    out.write.mode(SaveMode.Overwrite).saveAsTable(storeTable)
    s.catalog.refreshTable(storeTable)
    out
  }

  /** ONE batch of DDSketch histogram-store maintenance
    * ([[graft.functions.SketchOps.ddHistogram]]): bin the batch, sum
    * counts into the persisted (g, bin, cnt) store, Overwrite. The
    * merge is PLAIN ADDITION — fully associative and commutative — so
    * the absorbed store equals the one-shot corpus histogram EXACTLY
    * under any batch order or tree (the q197 parity gate), and every
    * [[graft.functions.SketchOps.ddQuantiles]] read keeps the relative-α
    * guarantee mid-ingestion. Store is groups × ~log_γ(max) rows;
    * corpus cost per batch is one (g, bin) count aggregate over the
    * BATCH. */
  def ddAbsorbBatch(rows: DataFrame, groupCol: String, valCol: String,
                    storeTable: String, gammaMilli: Long = 1250L): DataFrame = {
    val s = rows.sparkSession
    val b = graft.functions.SketchOps.ddHistogram(rows, groupCol, valCol, gammaMilli)
    val merged = if (s.catalog.tableExists(storeTable)) {
      s.table(storeTable).union(b)
        .groupBy("g", "bin").agg(sum("cnt").as("cnt"))
    } else b
    val out = merged.localCheckpoint(true) // break lineage BEFORE overwrite
    out.write.mode(SaveMode.Overwrite).saveAsTable(storeTable)
    s.catalog.refreshTable(storeTable)
    out
  }

  /** Continuous distribution profiling: a (group, value) stream absorbed
    * into the persisted log-binned histogram per micro-batch — p50/p95
    * (and any quantile) stay queryable with the relative-error bound
    * while ingestion runs. */
  def ddAbsorbStream(rows: DataFrame, groupCol: String, valCol: String,
                     storeTable: String, gammaMilli: Long = 1250L)
                    (onAbsorbed: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      onAbsorbed(ddAbsorbBatch(batch.toDF(), groupCol, valCol, storeTable,
        gammaMilli), batchId)
    }
    rows.writeStream.outputMode("append").foreachBatch(body).start()
  }

  /** ONE batch of fixed-target CUSUM state maintenance — the
    * [[graft.functions.EventOps.cusumFixed]] monoid made operational:
    * a bucket segment reduces to (n_buckets, p_total, min_prefix) per
    * key, and segments CONCATENATE associatively —
    * p = p_A + p_B, min_prefix = min(minP_A, p_A + minP_B) — so the
    * keys-sized store replayed over time-ordered batches lands EXACTLY
    * on the one-shot detector's final state (the q194 parity gate).
    *
    * Contract: batches must arrive in bucket order per key and no
    * hourly bucket may STRADDLE a batch boundary (a split bucket would
    * count twice with half mass each) — i.e. feed it bucket-aligned
    * micro-batches, the natural shape of a watermarked hourly
    * aggregation stream. Corpus cost per batch: one (key, hour) count
    * aggregate + two windows over the BATCH's buckets; the store
    * rewrite is keys-sized.
    *
    * @return merged store rows (g, n_buckets, p_total, min_prefix) */
  def cusumAbsorbBatch(rows: DataFrame, typeCol: String, tsCol: String,
                       storeTable: String, mu0: Long, slack: Long = 0L): DataFrame = {
    val s = rows.sparkSession
    val hidx = call_function("div", graft.Tables.epochNs(col(tsCol)),
      lit(3600L * 1000 * 1000 * 1000))
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("hidx"))
      .rowsBetween(Long.MinValue, 0L)
    val seg = rows
      .groupBy(col(typeCol).as("g"), hidx.as("hidx"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__y", col("cnt") - lit(mu0) - lit(slack))
      .withColumn("__p", sum("__y").over(wRun))
      .groupBy("g")
      .agg(count(lit(1)).as("n_buckets"), sum("__y").as("p_total"),
        min("__p").as("min_prefix"))
    val merged = if (s.catalog.tableExists(storeTable)) {
      s.table(storeTable)
        .select(col("g"), col("n_buckets").as("__na"), col("p_total").as("__pa"),
          col("min_prefix").as("__ma"))
        .join(seg.select(col("g"), col("n_buckets").as("__nb"),
          col("p_total").as("__pb"), col("min_prefix").as("__mb")), Seq("g"), "full")
        .select(col("g"),
          (coalesce(col("__na"), lit(0L)) + coalesce(col("__nb"), lit(0L)))
            .as("n_buckets"),
          (coalesce(col("__pa"), lit(0L)) + coalesce(col("__pb"), lit(0L)))
            .as("p_total"),
          when(col("__ma").isNull, col("__mb"))
            .when(col("__mb").isNull, col("__ma"))
            .otherwise(least(col("__ma"), col("__pa") + col("__mb")))
            .as("min_prefix"))
    } else seg
    val out = merged.localCheckpoint(true) // break lineage BEFORE overwrite
    out.write.mode(SaveMode.Overwrite).saveAsTable(storeTable)
    s.catalog.refreshTable(storeTable)
    out
  }

  /** Continuous fixed-target CUSUM: an event stream absorbed into the
    * keys-sized (n_buckets, p_total, min_prefix) store per micro-batch;
    * the live alarm is one projection over the store —
    * `p_total − least(0, min_prefix) > h`. */
  def cusumAbsorbStream(rows: DataFrame, typeCol: String, tsCol: String,
                        storeTable: String, mu0: Long, slack: Long = 0L)
                       (onAbsorbed: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      onAbsorbed(cusumAbsorbBatch(batch.toDF(), typeCol, tsCol, storeTable,
        mu0, slack), batchId)
    }
    rows.writeStream.outputMode("append").foreachBatch(body).start()
  }

  /** ONE batch of Misra–Gries heavy-hitter store maintenance
    * ([[graft.functions.SketchOps.mgAbsorb]]): exact batch counts are
    * summed into the persisted k-row store's counters, compressed ONCE,
    * Overwritten. The store stays k rows forever while the
    * frequent-elements guarantee (every key with true count >
    * n_tot/(k+1) present, count error ≤ the store's `dec` column)
    * holds across ANY number of absorbed batches — Agarwal et al.'s
    * mergeable-summaries theorem made operational. Unlike
    * [[kmvAbsorbBatch]] the result is merge-ORDER-dependent, so parity
    * gates replay the same batch sequence rather than comparing to a
    * one-shot corpus summary.
    *
    * Corpus cost per batch: one exact count aggregate over the BATCH +
    * k-row broadcast merges; store rewrite is k rows.
    *
    * @return the merged store rows (key, cnt_lo, dec, n_tot) */
  def mgAbsorbBatch(rows: DataFrame, keyCol: String, storeTable: String,
                    k: Int = 16): DataFrame = {
    val s = rows.sparkSession
    val st = if (s.catalog.tableExists(storeTable)) Some(s.table(storeTable))
             else None
    val merged = graft.functions.SketchOps.mgAbsorb(st, rows, keyCol, k)
    val out = merged.localCheckpoint(true) // break lineage BEFORE overwrite
    out.write.mode(SaveMode.Overwrite).saveAsTable(storeTable)
    s.catalog.refreshTable(storeTable)
    out
  }

  /** Continuous heavy-hitter maintenance: a keyed stream absorbed into
    * the persisted k-row MG store per micro-batch — hot keys (stopwords,
    * boilerplate shingles, skew-salting candidates) stay queryable in
    * the warehouse while ingestion runs. */
  def mgAbsorbStream(rows: DataFrame, keyCol: String, storeTable: String,
                     k: Int = 16)
                    (onAbsorbed: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      onAbsorbed(mgAbsorbBatch(batch.toDF(), keyCol, storeTable, k), batchId)
    }
    rows.writeStream.outputMode("append").foreachBatch(body).start()
  }

  /** Continuous sketch maintenance: a (group, key) stream absorbed into
    * the persisted KMV store per micro-batch — pairwise source-overlap
    * estimates ([[graft.functions.SketchOps.kmvPairStats]]) stay
    * queryable against the warehouse table while ingestion runs, at a
    * per-batch cost of one batch-sized aggregate + a groups-sized
    * rewrite. */
  def kmvAbsorbStream(rows: DataFrame, groupCol: String, keyCol: String,
                      storeTable: String, k: Int = 16)
                     (onAbsorbed: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      onAbsorbed(kmvAbsorbBatch(batch.toDF(), groupCol, keyCol, storeTable, k),
        batchId)
    }
    rows.writeStream.outputMode("append").foreachBatch(body).start()
  }

  /** ONE batch of streaming graph maintenance — the foreachBatch body of
    * [[absorbComponentsStream]], exposed so a batch chain (and the q151
    * oracle gate) runs the IDENTICAL call sequence the stream runs:
    * read the epoch-appended label table's live view, absorb the edge
    * delta in O(log delta) contraction rounds
    * ([[graft.functions.GraphOps.absorbComponents]] — previous labels
    * are a star forest, so round count follows the DELTA's merge
    * structure, not the original graph's diameter), and append ONLY the
    * CHANGED rows at the next epoch with the store's `id` bucketing
    * preserved. Label files are never rewritten: merges are appends,
    * reads are latest-epoch-per-id ([[graft.functions.GraphOps
    * .liveLabels]]) — the q135 merge-on-read discipline applied to
    * graph state.
    *
    * @return the appended delta rows (id, component, epoch), eagerly
    *         materialized
    */
  def absorbLabelsBatch(edges: DataFrame, srcCol: String, dstCol: String,
                        labelTable: String, buckets: Int = 8): DataFrame = {
    val s = edges.sparkSession
    val store = graft.sources.TableStore.loadTable(s, labelTable)
    // live view + next epoch read in one pass over the bucketed scan;
    // localCheckpoint because live feeds the absorb AND the change diff
    val live = graft.functions.GraphOps.liveLabels(store).localCheckpoint(true)
    val nextEpoch = store.agg(coalesce(max(col("epoch")), lit(0L)).as("e"))
      .head().getLong(0) + 1L
    val updated = graft.functions.GraphOps
      .absorbComponents(live, edges, srcCol, dstCol)
    val delta = updated
      .join(live.select(col("id"), col("component").as("__old")), Seq("id"), "left")
      .where(col("__old").isNull || col("__old") =!= col("component"))
      .select(col("id"), col("component"), lit(nextEpoch).as("epoch"))
      .localCheckpoint(true)
    graft.sources.TableStore.saveBucketed(delta, labelTable,
      bucketCols = Seq("id"), buckets = buckets, mode = SaveMode.Append)
    delta
  }

  /** Continuous connected-component maintenance against a PERSISTED
    * label store — the q99/dedupAgainstStore lifecycle for GRAPHS: each
    * micro-batch of new edges is absorbed with [[absorbLabelsBatch]]
    * (O(log delta) rounds, O(changed) appended rows), so batch N+1's
    * live view sees batch N's merges, restarts resume from the
    * warehouse, and batch consumers read the same table. State lives in
    * the warehouse, not a streaming state store, for the same reasons
    * as [[dedupAgainstStore]].
    *
    * @param onDelta called per micro-batch with (appended delta rows,
    *                batchId)
    */
  def absorbComponentsStream(edges: DataFrame, srcCol: String, dstCol: String,
                             labelTable: String, buckets: Int = 8)
                            (onDelta: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val body: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      onDelta(absorbLabelsBatch(batch.toDF(), srcCol, dstCol, labelTable, buckets), batchId)
    }
    edges.writeStream.outputMode("append").foreachBatch(body).start()
  }

  /** Streaming count-min sketch: the d×w cell table of
    * [[graft.functions.SketchOps.cmsBuild]] maintained as a STREAMING
    * AGGREGATION — the rare unbounded-stream aggregate whose state is
    * bounded BY CONSTRUCTION (≤ depth·width cells) with no watermark or
    * eviction policy needed, because the sketch, not the key set, is the
    * state. Run it in update/complete output mode; the sink (or
    * [[graft.functions.SketchOps.cmsEstimate]] over a snapshot) serves
    * frequency estimates with the same est ≥ true guarantee as the batch
    * sketch, and the cells are numerically IDENTICAL to a batch build
    * over the union of all micro-batches (integer counts, md5 hashes).
    */
  def cmsStream(keys: DataFrame, keyCol: String,
                depth: Int = 4, width: Int = 512): DataFrame =
    keys.select(explode(graft.functions.SketchOps.cmsCells(col(keyCol), depth, width)).as("__c"))
      .groupBy(col("__c.j").as("j"), col("__c.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Streaming HYPERLOGLOG — live distinct-cardinality over an unbounded
    * stream with state bounded BY CONSTRUCTION at ≤ 2^p register rows
    * (the [[cmsStream]] discipline: the sketch is the state, not the key
    * set; no watermark or eviction needed). `max` per register is
    * associative and idempotent, so the streaming aggregate's state is
    * numerically IDENTICAL to a batch [[graft.functions.SketchOps
    * .hllRegisters]] build over the union of all micro-batches —
    * estimate any snapshot with [[graft.functions.SketchOps
    * .hllEstimate]], or merge it with batch shard sketches (same
    * register layout, same md5 hashes) for a lambda-architecture
    * cardinality that needs no reconciliation pass.
    */
  def hllStream(keys: DataFrame, keyCol: String, p: Int = 10): DataFrame =
    graft.functions.SketchOps.hllRegisters(keys, keyCol, p)

  /** Watermarked stream-stream equi-join with a time-range bound: right
    * rows join left rows with `rightTs` in `[leftTs - lookback, leftTs]`.
    * Both sides are watermarked so join state is evicted — the streaming
    * as-of-neighborhood primitive (the batch exact as-of join is
    * [[graft.operators.AsOfJoin]]). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   lookback: String, watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    // per-side column refs — bare col() would be ambiguous whenever the
    // two streams share key/timestamp column names
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $lookback") &&
        r(rightTs) <= l(leftTs))
  }
}
