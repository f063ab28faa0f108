package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}
import java.sql.Timestamp

/** True Structured Streaming forms of the event-time operators (the batch
  * twins with DuckDB oracles live in [[graft.operators.EventOps]]).
  *
  * Each transform takes a streaming DataFrame from `readStream` (file source,
  * Kafka, or a test MemoryStream) and returns a streaming result for
  * `writeStream`. State is bounded by watermarks — required at 100 TB/day
  * ingest, where unbounded state is an OOM, not a feature.
  */
object StreamingOps {

  /** One event row as the typed streaming surface sees it. */
  final case class Event(
      event_id: Long,
      ts: Timestamp,
      user_id: Long,
      event_type: String,
      value: Double)

  /** One incoming document on the streaming corpus-ingest surface. */
  final case class StreamDoc(
      doc_id: Long,
      ts: Timestamp,
      text: String,
      lang: String)

  /** A closed user session emitted by [[sessionize]]. */
  final case class UserSession(
      user_id: Long,
      start: Timestamp,
      end: Timestamp,
      n_events: Long,
      sum_value: Double)

  /** Tumbling-window counts with a 30-minute watermark: late events beyond
    * the watermark are dropped, on-time aggregates emit once finalized
    * (append mode).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Streaming dedup: first event per (user, type) within the watermark
    * horizon survives — the streaming twin of EventOps.q31.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-static enrichment join: each micro-batch joins against a static
    * (batch) dimension — planned as a broadcast hash join per batch, no
    * stream state. The standard shape for attaching dimension attributes to
    * a 100 TB/day event firehose.
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), key)

  /** Streaming corpus-ingest curation: the continuous form of the batch
    * curation pipeline — per-document quality flags (the SAME map-only
    * expressions as [[graft.operators.Curation.qualityFlags]], so batch and
    * stream agree decision-for-decision), drop failing docs, then exact
    * content dedup within the watermark horizon. State is one sha-256 key
    * per surviving doc inside the watermark — bounded, unlike a naive
    * `dropDuplicates` whose key set grows forever at 100 TB/day ingest.
    */
  /** Streaming MinHash-LSH NEAR-dup dedup: each micro-batch probes a
    * persistent band index ([[graft.operators.Dedup.nearDupAgainstIndex]]),
    * drops docs sharing any band with an indexed or smaller-in-batch doc,
    * writes survivors' bands to a per-batchId index segment (OVERWRITE, so
    * a redelivered batch rewrites its own segment instead of growing the
    * index), periodically compacts the segments so a long-running stream
    * never accretes one small parquet file set per batch, and lands
    * survivors in a per-batchId parquet dir (replay-idempotent end to end). This is the streaming face of the q34
    * banding and the approximate twin of the exact incremental dedup
    * (q103): unbounded-horizon near-dedup whose state lives in storage,
    * not the state store — at 100 TB/day the band index outgrows any
    * executor state but stays a cheap bucketed equi-join probe.
    */
  def nearDupStream(docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir).outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.operators.Dedup.nearDupAgainstIndex(batch, indexDir, id)
          .write.mode("overwrite").parquet(s"$outDir/batch_$id")
        ()
      }
      .start()

  /** Exactly-once streaming append into a staging-catalog table: each
    * micro-batch INSERTs through the real DSv2 committer tagged with its
    * batch id, which [[graft.sources.catalog.GraftStagingCatalog]] records
    * INSIDE the atomically-renamed version manifest. Because "data
    * committed" and "batch recorded" are ONE file write, there is no crash
    * window between them: a redelivered batch is detected by its id and
    * its staged task files aborted away, so the sink table holds each
    * batch's rows exactly once — and every batch is also a pinnable
    * `VERSION AS OF` snapshot. This closes the gap the foreachBatch
    * overwrite-by-path pattern leaves for APPEND-shaped sinks (where
    * per-batch output dirs don't compose into one queryable table).
    */
  /** `analyzeCols`: when non-empty, each committed batch is followed by an
    * INCREMENTAL zone-map ANALYZE of those columns — only the batch's new
    * files get their footers read (already-covered files are skipped), so
    * a long-running ingest keeps its table prunable with per-batch cost
    * proportional to the batch, never the table. The stats sidecar is
    * advisory: a crash between append and analyze costs pruning until the
    * next batch's analyze sweeps it up, never correctness.
    */
  /** `bloomCols`: same incremental per-batch contract for the point-lookup
    * Bloom sidecars — only the batch's NEW files get a bloom build, so an
    * equality-probed serving table stays prunable under continuous ingest.
    */
  def catalogAppendStream(rows: DataFrame, table: String,
      checkpointDir: String, analyzeCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir).outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.writeTo(table).option("graft.batch-id", id.toString).append()
        if (analyzeCols.nonEmpty || bloomCols.nonEmpty) table.split("\\.") match {
          case Array(cat, ns, t) =>
            if (analyzeCols.nonEmpty)
              graft.sources.catalog.StagingMaintenance.analyze(
                batch.sparkSession, cat, ns, t, analyzeCols)
            if (bloomCols.nonEmpty)
              graft.sources.catalog.StagingMaintenance.analyzeBloom(
                batch.sparkSession, cat, ns, t, bloomCols)
            ()
          case _ => ()
        }
        ()
      }
      .start()

  /** CONTINUOUS BM25 INDEX MAINTENANCE off the commit log: tail a documents
    * staging table through the catalog's DSv2 streaming source
    * (`readStream.table` — manifest-version offsets, so a concurrent
    * OPTIMIZE of the docs table can NEVER re-feed the index, the failure
    * mode the file-tailing [[catalogChangeStream]] documents), and fold
    * each micro-batch of new documents into the q327 posting/doclen
    * tables. Both appends carry the micro-batch id into the catalog's
    * atomic commit ledger, so a crash-replayed batch aborts its staged
    * files — the index stays exactly-once however the stream dies. df and
    * avgdl need no maintenance at all: the q327 serve derives them from
    * the index at query time, so they are never stale.
    *
    * MULTI-TABLE ATOMICITY (r11): when the index tables are members of a
    * commit group ([[graft.sources.catalog.CommitGroups]] — the q333
    * machinery the batch ensure-guard already publishes through), each
    * micro-batch's two member appends are invisible phase-1 work and the
    * batch ends with ONE `group_publish` pointer flip — a stream that dies
    * BETWEEN the appends never exposes postings without their doc lengths
    * (readers stay pinned at the previous vector), and the replayed batch
    * converges: the recognized append skips, the missing one lands, the
    * publish flips both. Without a group the two appends stay independent
    * exactly-once commits (the pre-r11 contract).
    */
  def bm25MaintainStream(spark: SparkSession, docsTable: String,
      postingsTable: String, doclenTable: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    spark.readStream.table(docsTable)
      .writeStream.option("checkpointLocation", checkpointDir).outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val toks = batch.select(col(idCol).cast("long").as("doc_id"),
          explode(split(col(textCol), " ")).as("tok"))
        toks.groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
          .select(col("tok"), col("doc_id"), col("tf"))
          .writeTo(postingsTable).option("graft.batch-id", id.toString).append()
        toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
          .writeTo(doclenTable).option("graft.batch-id", id.toString).append()
        // publish BOTH member tables' groups (deduped): the two index
        // tables usually share one group, but if only the doclen table is
        // a member — or the two live in different groups — publishing
        // only the postings side would leave readers pinned at a stale
        // vector indefinitely
        publishGroupsOf(spark, Seq(postingsTable, doclenTable))
        ()
      }
      .start()

  /** Publish the commit groups the given catalog tables are members of,
    * if any (a shared group publishes ONCE) — the per-batch phase-2
    * pointer flip of a multi-table maintenance stream. No-op for
    * non-members and non-3-part names.
    */
  private def publishGroupsOf(spark: SparkSession, qualifiedTables: Seq[String]): Unit = {
    val groups = qualifiedTables.flatMap { qualifiedTable =>
      val parts = qualifiedTable.split('.')
      if (parts.length == 3) {
        val Array(cat, ns, tbl) = parts
        spark.conf.getOption(s"spark.sql.catalog.$cat.root").toSeq.flatMap { root =>
          val raw = new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(root, ns), tbl)
          val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
          graft.sources.catalog.TableMeta.read(fs, fs.makeQualified(raw)).group
            .map(g => (cat, ns, g))
        }
      } else Seq.empty
    }
    groups.distinct.foreach { case (cat, ns, g) =>
      graft.sources.catalog.CommitGroups.publish(spark, cat, ns, g); ()
    }
  }

  /** The READ side of the catalog's change feed as a live stream: tail a
    * staging-catalog table's directory with the file-based streaming source,
    * which tracks processed files in its checkpoint — each committed INSERT
    * (or [[catalogAppendStream]] batch) lands new part files, and exactly
    * those rows flow downstream, exactly once across restarts. This is the
    * continuous twin of `StagingMaintenance.changesBetween` (the batch
    * version-range read) and carries the same contract: valid while the
    * table evolves append-only. A rewrite (OPTIMIZE / DELETE FROM) emits
    * rewritten files as if new — run maintenance on a quiesced feed, or
    * restart consumers from a fresh checkpoint after it, exactly as a
    * Delta/file-stream consumer must.
    */
  def catalogChangeStream(spark: SparkSession, catalog: String, ns: String,
      table: String): DataFrame = {
    val root = spark.conf.getOption(s"spark.sql.catalog.$catalog.root")
      .getOrElse(throw new IllegalArgumentException(
        s"spark.sql.catalog.$catalog.root is not set"))
    val raw = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root, ns), table)
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    val dir = fs.makeQualified(raw)
    require(
      try fs.getFileStatus(dir).isDirectory
      catch { case _: java.io.FileNotFoundException => false },
      s"no staging table at $dir")
    // schema from the catalog (sidecar or footers) — a streaming source
    // cannot infer it
    val schema = spark.table(s"$catalog.$ns.$table").schema
    spark.readStream.schema(schema).parquet(dir.toString)
  }

  /** Streaming UPSERT into a versioned catalog table: each micro-batch is
    * applied as one atomic `MERGE INTO` (update matched keys, insert new
    * ones — the q272 machinery), turning a keyed change stream into a
    * maintained current-state table, the CDC-apply pattern. Unlike the
    * append sink, replay needs no batch-id ledger: an upsert of the same
    * rows is idempotent at the DATA level (a redelivered batch re-merges to
    * the identical state; it costs one redundant version, not duplicate
    * rows). Late-arriving keys simply upsert when they arrive.
    *
    * A CDC batch routinely carries SEVERAL changes for one key; MERGE
    * demands at most one source match per target row, so each batch is
    * first compacted to its per-key winner — the row ranked first by
    * `orderCol` DESC (the change stream's sequence/event-time column).
    * Without an `orderCol` the winner is the max over the non-key columns
    * (deterministic, but order-less CDC should always pass the real
    * sequence column).
    */
  def catalogUpsertStream(rows: DataFrame, table: String, keyCol: String,
      checkpointDir: String, orderCol: Option[String] = None): StreamingQuery = {
    val view = s"graft_upsert_src_${System.nanoTime()}"
    rows.writeStream
      .option("checkpointLocation", checkpointDir).outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ord = orderCol.map(c => Seq(col(c).desc))
          .getOrElse(batch.columns.filterNot(_ == keyCol).toSeq.map(col(_).desc))
        val w = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
        val compacted = batch
          .withColumn("__graft_rn", row_number().over(w))
          .where(col("__graft_rn") === 1).drop("__graft_rn")
        compacted.createOrReplaceTempView(view)
        batch.sparkSession.sql(
          s"""MERGE INTO $table t USING $view s ON t.$keyCol = s.$keyCol
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        ()
      }
      .start()
  }

  /** Bookkeeping key the streaming MV keeps INSIDE the view table — the
    * last-applied micro-batch id rides the same atomic MERGE commit as the
    * delta, so "aggregates advanced" and "batch recorded" cannot tear.
    *
    * COLLISION-PROOF since r9: real group values are stored PREFIX-ENCODED
    * (`v:<value>` for non-null groups, the bare sentinel `n:` for the NULL
    * group) and the marker key is `m:` — three disjoint prefixes, so NO
    * user group value (including one literally equal to the old
    * `__graft_mv_batch` string) can collide with the bookkeeping row or the
    * null group. [[mvServe]] decodes the prefix back off, so the serving
    * face is unchanged.
    */
  val MvBatchMarker = "m:"

  /** Prefix-encode a group value into the MV's collision-proof key domain. */
  private def mvEncodeGroup(g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(g.isNull, lit("n:")).otherwise(concat(lit("v:"), g.cast("string")))

  /** CONTINUOUS incremental materialized-view maintenance — the streaming
    * twin of q256's batch refresh: tail the source catalog table's change
    * feed ([[catalogChangeStream]]) and fold each micro-batch's delta into
    * a served MV table with ONE atomic additive `MERGE INTO` per batch —
    * count and decimal-sum are self-maintainable over append-only deltas,
    * so the MV equals a full recompute bit-for-bit at every batch boundary
    * (StreamingSpec proves it through a kill/restart).
    *
    * Exactly-once without a side ledger: the MERGE source carries one
    * extra row keyed [[MvBatchMarker]] whose `n` is the micro-batch id;
    * it commits atomically WITH the delta (one manifest write), and each
    * batch first consults it — a crash-redelivered batch sees its own id
    * already recorded and skips. This is the Delta `txnAppId/txnVersion`
    * idea expressed as an in-table row, made collision-proof by the
    * prefix encoding (see [[MvBatchMarker]]). At 100 TB the refresh cost
    * is the day's new files + a |groups|-row merge — never a source
    * re-scan.
    *
    * Serve with [[mvServe]] (filters the marker row, decodes the prefix).
    */
  def mvMaintainStream(changes: DataFrame, mvTable: String, groupCol: String,
      sumCol: String, checkpointDir: String): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir).outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val applied = spark.table(mvTable)
          .where(col("g") === lit(MvBatchMarker))
          .agg(max(col("n"))).collect()(0)
        val appliedId = if (applied.isNullAt(0)) -1L else applied.getLong(0)
        if (id > appliedId) {
          val view = s"graft_mv_delta_${System.nanoTime()}"
          batch
            .groupBy(mvEncodeGroup(col(groupCol)).as("g"))
            .agg(count(lit(1)).as("n_d"),
              sum(col(sumCol).cast("decimal(28,4)")).as("s_d"))
            .unionByName(spark.range(1).select(
              lit(MvBatchMarker).as("g"), lit(id).as("n_d"),
              lit(BigDecimal(0)).cast("decimal(28,4)").as("s_d")))
            .createOrReplaceTempView(view)
          try spark.sql(
            s"""MERGE INTO $mvTable t USING $view s ON t.g = s.g
               |WHEN MATCHED THEN UPDATE SET
               |  n = CASE WHEN t.g = '$MvBatchMarker' THEN s.n_d ELSE t.n + s.n_d END,
               |  s = t.s + s.s_d
               |WHEN NOT MATCHED THEN INSERT (g, n, s) VALUES (s.g, s.n_d, s.s_d)""".stripMargin)
          finally spark.catalog.dropTempView(view) // no per-batch view leak
        }
        ()
      }
      .start()

  /** The MV's serving face: marker row filtered out, group prefix decoded
    * back to the source value (`v:<x>` → `<x>`, the `n:` sentinel → NULL).
    */
  def mvServe(spark: org.apache.spark.sql.SparkSession, mvTable: String): DataFrame =
    spark.table(mvTable).where(col("g") =!= lit(MvBatchMarker))
      .select(
        when(col("g") === lit("n:"), lit(null).cast("string"))
          .otherwise(substring(col("g"), 3, Int.MaxValue)).as("g"),
        col("n"), col("s"))

  /** One incoming embedding on the streaming vector-ingest surface. */
  final case class StreamVec(vec_id: Long, embedding: Array[Float])

  /** Schema of the streaming-maintained IVF index segments. */
  val IvfIndexSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>, n2 DOUBLE, cell BIGINT"

  /** Streaming vector-index maintenance — the continuous form of q246's
    * incremental catalog upsert: each micro-batch of embeddings is
    * norm-enriched, cell-assigned against the broadcast quantizer
    * (map-only, [[graft.operators.Similarity.ivfAssign]]), and landed in a
    * [[graft.sources.SegmentedIndex]] — replay-idempotent (per-batchId
    * OVERWRITE segments) and self-compacting, so a long-running embedding
    * firehose keeps a bounded file count. Probes served from the persisted
    * index ([[graft.operators.Similarity.ivfProbe]] over
    * `SegmentedIndex.read`) are bit-identical to the in-flight ANN —
    * StreamingSpec proves the round trip against q67 on the same corpus.
    */
  val PqCodesSchema = "vec_id BIGINT, m INT, code BIGINT"

  /** With `pq = Some((codebook, codesDir))`, each micro-batch ALSO
    * PQ-encodes its vectors against the fixed broadcast codebook and lands
    * the (vec_id, m, code) rows in a second SegmentedIndex — cells and
    * codes advance in lockstep (same batchId, both replay-idempotent), so
    * the persisted IVF-PQ serving stack (q303) stays complete as the
    * embedding firehose runs. Codes are map-side work per batch (each
    * vector × 16-entry codebook × 8 subspaces); the corpus is never
    * re-encoded.
    */
  def ivfUpsertStream(vecs: DataFrame, cents: DataFrame, indexDir: String,
      checkpointDir: String,
      pq: Option[(DataFrame, String)] = None): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir).outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val withN2 = batch.selectExpr(
          "vec_id", "embedding", "float_vec_dot(embedding, embedding) AS n2")
        graft.sources.SegmentedIndex.writeBatch(
          graft.operators.Similarity.ivfAssign(withN2, cents),
          indexDir, id, IvfIndexSchema, sortCol = "cell")
        pq.foreach { case (codebook, codesDir) =>
          graft.sources.SegmentedIndex.writeBatch(
            graft.operators.Similarity.pqCodes(
              graft.operators.Similarity.pqSubDistsAgainst(
                batch.select(col("vec_id"), col("embedding")), codebook)),
            codesDir, id, PqCodesSchema, sortCol = "vec_id")
        }
        ()
      }
      .start()

  def curateStream(docs: DataFrame): DataFrame =
    graft.operators.Curation.qualityFlags(docs)
      .where(!col("f_short") && !col("f_word_len") && !col("f_symbol"))
      .select(col("doc_id"), col("ts"), col("text"), col("lang"))
      .withColumn("content_hash", sha2(col("text"), 256))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-stream interval join: purchases matched to clicks by the same
    * user within the preceding hour. Both sides carry watermarks and the
    * join condition bounds event-time distance, so each side's buffered
    * state is evictable — unbounded stream-stream joins are an OOM at scale.
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    p.join(c,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
  }

  /** Stream-stream LEFT OUTER interval join: like [[clickToPurchase]] but
    * purchases with no qualifying click still emit (null click columns) once
    * the watermark passes their join horizon — the streaming answer to "count
    * unattributed purchases" without a second pass.
    */
  def clickToPurchaseOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    p.join(c,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "leftOuter")
  }

  /** A purchase matched (or not) to the latest preceding click — emitted by
    * [[asofMatch]]. */
  final case class AsofMatch(
      user_id: Long,
      p_id: Long,
      p_value: Double,
      asof_click_id: Option[Long])

  /** Streaming as-of join via flatMapGroupsWithState — the true streaming
    * twin of EventOps.q26: per user, remember clicks and enrich each purchase
    * with the latest click at or before it.
    *
    * State is BOUNDED: clicks older than the current watermark are pruned
    * down to the single latest one (any future purchase not yet seen has
    * event time ≥ watermark, so older clicks can never win an as-of again);
    * an event-time timeout clears fully idle users. Within a micro-batch,
    * events sort by (ts, kind, id) — the same tie rules as the batch twin.
    */
  def asofMatch(events: Dataset[Event]): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Long)], AsofMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[List[(Long, Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // clicks as (tsMillis, clickId), ascending
            var clicks = state.getOption.getOrElse(Nil)
            val out = List.newBuilder[AsofMatch]
            val sorted = it.toSeq.sortBy(e =>
              (e.ts.getTime, if (e.event_type == "click") 0 else 1, e.event_id))
            sorted.foreach { e =>
              if (e.event_type == "click")
                clicks = ((e.ts.getTime, e.event_id) :: clicks)
                  .sortBy(identity)
              else if (e.event_type == "purchase") {
                val at = clicks.reverseIterator
                  .find { case (t, _) => t <= e.ts.getTime }
                out += AsofMatch(userId, e.event_id, e.value, at.map(_._2))
              }
            }
            // prune: keep clicks >= watermark plus the single latest older one
            val wm = state.getCurrentWatermarkMs()
            val (old, recent) = clicks.partition(_._1 < wm)
            clicks = old.takeRight(1) ::: recent
            if (clicks.nonEmpty) {
              state.update(clicks)
              state.setTimeoutTimestamp(clicks.last._1 + 6L * 3600 * 1000)
            }
            out.result().iterator
          }
      }
  }

  /** A scored event emitted by [[anomalyStream]]. */
  final case class AnomalyFlag(
      user_id: Long,
      event_id: Long,
      v_milli: Long,
      n_prior: Int,
      is_anomaly: Boolean)

  /** Streaming rolling z-score anomaly detection via flatMapGroupsWithState —
    * the true-streaming twin of [[graft.operators.Timeline.rollingAnomaly]],
    * using the IDENTICAL integer test ((n·v − S)² > 4·(n·Q − S²) over
    * milli-quantized values, n ≥ 5 of the trailing 10), so a batch backfill
    * and the live stream flag the same events.
    *
    * State per user is a bounded ring of the last 10 quantized values —
    * O(1) per key regardless of stream length — and idle users expire via
    * an event-time timeout. Assumes in-order-per-user delivery within the
    * watermark horizon (the usual contract for sequence-sensitive scoring;
    * a late event scores against the state at arrival).
    */
  def anomalyStream(events: Dataset[Event]): Dataset[AnomalyFlag] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], AnomalyFlag](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[List[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var prior = state.getOption.getOrElse(Nil) // oldest-first, ≤ 10
            val out = List.newBuilder[AnomalyFlag]
            var maxTs = 0L
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val v = math.floor(e.value * 1000.0).toLong
              val n = prior.size.toLong
              val s = prior.sum
              val q = prior.iterator.map(x => x * x).sum
              val anomalous = n >= 5 &&
                (n * v - s) * (n * v - s) > 4L * (n * q - s * s)
              out += AnomalyFlag(userId, e.event_id, v, n.toInt, anomalous)
              prior = (prior :+ v).takeRight(10)
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            state.update(prior)
            // Expire relative to the user's own latest EVENT time (always
            // ahead of the watermark) — anchoring to the watermark itself
            // can place the timeout in the past and wipe live state.
            state.setTimeoutTimestamp(maxTs + 6L * 3600 * 1000)
            out.result().iterator
          }
      }
  }

  /** A scored event emitted by [[cusumStream]]. */
  final case class CusumFlag(user_id: Long, event_id: Long, s: Long, alarm: Boolean)

  /** Streaming one-sided CUSUM changepoint monitor — the true-streaming twin
    * of the batch q206 recursion (graft.operators.TypedOps), using the
    * IDENTICAL integer update s ← max(0, s + ⌊value·100⌋ − k), alarm at
    * s > h, so a batch backfill and the live stream raise the same alarms.
    * State per user is ONE long — O(1) regardless of stream length — and
    * idle users expire via an event-time timeout. Same in-order-per-user
    * delivery contract as [[anomalyStream]].
    */
  def cusumStream(
      events: Dataset[Event], k: Long = 3459L, h: Long = 50000L): Dataset[CusumFlag] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, CusumFlag](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var s = state.getOption.getOrElse(0L)
            var maxTs = 0L
            val out = List.newBuilder[CusumFlag]
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val x = math.floor(e.value * 100.0).toLong
              s = math.max(0L, s + x - k)
              out += CusumFlag(userId, e.event_id, s, s > h)
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            state.update(s)
            state.setTimeoutTimestamp(maxTs + 6L * 3600 * 1000)
            out.result().iterator
          }
      }
  }

  /** Latest observed state per (user, event_type) — emitted by
    * [[latestState]] in update mode whenever the state changes. */
  final case class LatestState(
      user_id: Long,
      event_type: String,
      ts: Timestamp,
      value: Double)

  /** Streaming CDC compaction: the latest event per (user, type) key,
    * re-emitted on every change — the streaming twin of the batch max_by
    * compaction (AdvancedSql q75). State per key is ONE row (the current
    * winner by (ts, event_id)), so it is O(keys) regardless of stream
    * length; a downstream `foreachBatch` upsert materializes it into a
    * serving table. Late events older than the current winner are ignored
    * by construction — the same semantics the batch compaction produces.
    */
  def latestState(events: Dataset[Event]): Dataset[LatestState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[(Long, Long, Double), LatestState](
        GroupStateTimeout.NoTimeout()) {
        case ((userId, etype), it, state: GroupState[(Long, Long, Double)]) =>
          val best = (state.getOption.iterator ++
            it.map(e => (e.ts.getTime, e.event_id, e.value)))
            .maxBy { case (t, id, _) => (t, id) }
          state.update(best)
          LatestState(userId, etype, new Timestamp(best._1), best._3)
      }
  }

  /** One running-total row emitted by [[spendTracker]]. */
  final case class SpendUpdate(
      user_id: Long,
      n_events: Long,
      total_value: Double,
      big_spender: Boolean)

  /** Per-user running spend on the transformWithState API (Spark 4's
    * arbitrary-state operator, the successor to mapGroupsWithState): state
    * is a typed [[ValueState]] living in the RocksDB state store, updated
    * per micro-batch and emitted in Update mode. Demonstrates the
    * state-variable handle lifecycle (`init` → `getHandle.getValueState`)
    * the older GroupState API lacks; TTL is NONE here because the tracker
    * is cumulative by design — a production deployment bounding state by
    * recency would pass `TTLConfig(Duration.ofDays(30))` instead.
    */
  class SpendTracker(threshold: Double)
      extends StatefulProcessor[Long, Event, SpendUpdate] {
    @transient private var totals: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState(
        "totals", Encoders.product[(Long, Double)], TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SpendUpdate] = {
      var (n, v) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { e => n += 1; v += e.value }
      totals.update((n, v))
      Iterator.single(SpendUpdate(user, n, v, v >= threshold))
    }
  }

  /** transformWithState pipeline: requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    */
  def spendTracker(events: Dataset[Event], threshold: Double): Dataset[SpendUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new SpendTracker(threshold),
        TimeMode.None(), OutputMode.Update())
  }

  /** Session gap. */
  private val GapMs = 30L * 60 * 1000

  /** Custom stateful sessionization via flatMapGroupsWithState: accumulates
    * per-user state, emits a session when the gap exceeds 30 minutes, and
    * expires state through an event-time timeout so it stays bounded.
    */
  def sessionize(events: Dataset[Event]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSession, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[UserSession]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts.getTime < s.end.getTime + GapMs =>
                  cur = Some(s.copy(
                    end = if (e.ts.getTime > s.end.getTime) e.ts else s.end,
                    n_events = s.n_events + 1,
                    sum_value = s.sum_value + e.value))
                case Some(s) =>
                  closed ::= s
                  cur = Some(UserSession(userId, e.ts, e.ts, 1L, e.value))
                case None =>
                  cur = Some(UserSession(userId, e.ts, e.ts, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end.getTime + GapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
