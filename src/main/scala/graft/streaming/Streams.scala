package graft.streaming

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.ops.Frames

/** Structured Streaming surface of the engine. The reference is a daily
  * batch cron whose only incremental semantics are (a) the freshness gate
  * "run only if MAX(date) < today" and (b) re-download overlap absorbed
  * by PK upsert (reference main.py:101-112, downloader_tw.py:118-120).
  * Both map onto streams: a file-source + Trigger.AvailableNow run IS the
  * daily batch, and watermarked dropDuplicates IS the upsert's
  * exactly-once key contract — so the same pipeline definition serves
  * both the cron deployment and a continuous one.
  *
  * Scale posture: state stores are keyed by (date,symbol)-grade keys
  * (high cardinality, well distributed); watermarks bound state size;
  * aggregations are partial-agg friendly (count/sum/min/max only).
  *
  * Every micro-batch pipeline runs through [[drain]], which releases
  * each frame a batch persisted or checkpointed (handed to `hold`) when
  * that batch ends, also when the batch throws; frames pinned for the
  * whole run are released in a `finally` around the `drain` call.
  */
object Streams {

  /** Partition-directory count at which the dedup and ER streams
    * compact their snapshot table (see [[erStream]]).
    */
  private val CompactEvery = 16

  /** The frames the running [[drain]] batch holds. */
  private val batchFrames =
    new scala.util.DynamicVariable[ArrayBuffer[DataFrame]](null)

  /** Hand a persisted or checkpointed frame to the running [[drain]]
    * batch, which releases it when the batch ends. Returns `df`.
    */
  private def hold(df: DataFrame): DataFrame = {
    batchFrames.value += df
    df
  }

  /** The one AvailableNow loop: runs `body` once per micro-batch over
    * everything pending in `in` (progress checkpointed at `checkpoint`),
    * then stops. Frames the batch handed to [[hold]] are released with
    * [[graft.ops.Frames.release]] as the batch ends, whether `body`
    * returns or throws; a throw then fails the stream, and
    * `awaitTermination` rethrows it to the caller.
    */
  def drain(in: DataFrame, checkpoint: String,
            mode: OutputMode = OutputMode.Append)(
      body: (DataFrame, Long) => Unit): Unit =
    in.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val held = ArrayBuffer.empty[DataFrame]
        try batchFrames.withValue(held)(body(batch, batchId))
        finally held.foreach(Frames.release)
      }
      .start()
      .awaitTermination()

  /** Exactly-once ingest dedup: keep the first arrival per key inside
    * the watermark horizon — the streaming face of the K1 upsert. Late
    * duplicates beyond the watermark age out of the state store instead
    * of accumulating forever.
    */
  def dedupByKey(in: DataFrame, eventTimeCol: String, watermark: String,
                 keys: Seq[String]): DataFrame =
    in.withWatermark(eventTimeCol, watermark)
      .dropDuplicates(keys :+ eventTimeCol)

  /** Tumbling-window rollup of the event feed (the streaming shape of
    * q21): counts and value sums per (window, event_type), emitted once
    * the watermark passes the window end.
    */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("value_sum"))

  /** Session windows: activity bursts per key separated by `gap` of
    * silence (built-in session_window — state merges adjacent events,
    * emits once the watermark passes session end + gap). Works
    * identically over batch frames, which is how the spec goldens it.
    */
  def sessionRollup(events: DataFrame, key: String, gap: String,
                    watermark: Option[String] = None): DataFrame = {
    val in = watermark.map(events.withWatermark("ts", _)).getOrElse(events)
    in.groupBy(session_window(col("ts"), gap), col(key))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(key), col("n"), col("value_sum"))
  }

  /** Per-key running state for custom incremental logic that windowed
    * aggs can't express — the mapGroupsWithState path. Tracks per symbol:
    * row count, latest event date, and min close seen (the streaming
    * freshness/validity summary).
    */
  final case class BarEvent(symbol: String, date: java.sql.Date, close: Double)
  final case class SymbolState(symbol: String, nRows: Long,
                               lastDate: java.sql.Date, minClose: Double)

  def symbolRunningState(bars: Dataset[BarEvent]): Dataset[SymbolState] = {
    import bars.sparkSession.implicits._
    bars.groupByKey(_.symbol)
      .mapGroupsWithState[SymbolState, SymbolState](GroupStateTimeout.NoTimeout) {
        (symbol, events, state: GroupState[SymbolState]) =>
          val prev = state.getOption.getOrElse(
            SymbolState(symbol, 0L, java.sql.Date.valueOf("1970-01-01"), Double.MaxValue))
          val next = events.foldLeft(prev) { (st, e) =>
            SymbolState(symbol, st.nRows + 1,
              if (e.date.after(st.lastDate)) e.date else st.lastDate,
              math.min(st.minClose, e.close))
          }
          state.update(next)
          next
      }
  }

  /** Stream-stream inner equi-join bounded by an event-time interval:
    * rows pair when keys match AND the right timestamp falls within
    * [left - within, left]. Both sides carry watermarks, so the join
    * state store retains only rows young enough to still find a match —
    * the bounded-state contract stream-stream joins require (without
    * the interval, state grows forever). Same DataFrame expression runs
    * in batch mode for goldening.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   watermark: String, within: String,
                   joinType: String = "inner"): DataFrame = {
    // watermarks only exist on streams; the identical join expression
    // runs in batch mode (which is how the oracle goldens it)
    def wm(df: DataFrame, ts: String) =
      if (df.isStreaming) df.withWatermark(ts, watermark) else df
    val l = wm(left, leftTs).as("l")
    val r = wm(right, rightTs).as("r")
    // left_outer additionally emits unmatched left rows (null-padded)
    // once the watermark proves no in-interval match can still arrive
    l.join(r, expr(
      s"l.$key = r.$key AND r.$rightTs >= l.$leftTs - INTERVAL $within" +
        s" AND r.$rightTs <= l.$leftTs"), joinType)
  }

  final case class SessionEvent(userId: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionAgg(userId: Long, n: Long, valueSum: Double, lastTs: Long)
  final case class SessionOut(userId: Long, n: Long, valueSum: Double)

  /** Custom-state sessions with EVENT-TIME TIMEOUT — the
    * flatMapGroupsWithState face of sessionRollup: accumulate per-user
    * activity, arm a timeout at (last event + gap), and EMIT the session
    * summary only when the watermark passes it (i.e. the session
    * provably ended). State is removed on emission, so the store holds
    * only open sessions — bounded by active users, not history.
    */
  def expiringSessions(events: Dataset[SessionEvent], watermark: String,
                       gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionAgg, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, state: GroupState[SessionAgg]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.n, s.valueSum))
          } else {
            val prev = state.getOption.getOrElse(SessionAgg(uid, 0L, 0.0, 0L))
            val next = it.foldLeft(prev) { (st, e) =>
              SessionAgg(uid, st.n + 1, st.valueSum + e.value,
                math.max(st.lastTs, e.ts.getTime))
            }
            state.update(next)
            state.setTimeoutTimestamp(next.lastTs + gapMs)
            Iterator.empty
          }
      }
  }

  /** Streaming MERGE: upsert each micro-batch into the partitioned
    * parquet warehouse through foreachBatch — the continuous face of the
    * reference's INSERT OR REPLACE ingest. Each batch is a partition-
    * scoped merge (only the partitions the batch touches are rewritten),
    * so a day's worth of late symbols costs one date-partition rewrite,
    * not a table scan. Exactly-once per key comes from the version-column
    * keep-latest semantics, which absorbs micro-batch replays after a
    * checkpoint recovery (re-merging a batch is a no-op).
    */
  def mergeStream(in: DataFrame, tablePath: String, checkpoint: String,
                  keys: Seq[String], versionCol: String,
                  partitionCol: String): Unit =
    drain(in, checkpoint, OutputMode.Update) { (batch, _) =>
      val touched = batch.select(col(partitionCol)).distinct().collect().map(_.get(0))
      graft.ops.Merge.upsertIntoPath(batch, tablePath, keys,
        versionCol, partitionCol, touched.toIndexedSeq)
    }

  /** Streaming distinct-count sketching: fold each micro-batch's HLL
    * registers into a running register table (per-bucket max). The
    * state is ≤ groups × m tiny rows — the estimate never rescans
    * history — and because max is IDEMPOTENT, a micro-batch replayed
    * after checkpoint recovery merges to the identical table (the same
    * absorption argument as mergeStream's keep-latest). Query the
    * running table any time with [[graft.ops.Sketch.hllEstimate]].
    *
    * CRASH-ATOMIC update protocol: the merged table is fully written to
    * a `.staged` sibling directory, then swapped live via two directory
    * renames (live → `.retired`, staged → live) — the register path is
    * never overwritten in place, so a crash at ANY point leaves a
    * complete table at either the live or the retired path.
    * [[recoverRegisters]] runs before every batch (and is safe to call
    * any time): it restores a retired table orphaned between the two
    * renames and discards half-written stages; the interrupted batch
    * itself replays from the checkpoint and max-merges to the identical
    * result. StreamingSpec kills a writer between the renames and
    * asserts full recovery.
    */
  def sketchStream(in: DataFrame, registerPath: String, checkpoint: String,
                   groups: Seq[String], value: org.apache.spark.sql.Column): Unit = {
    // repair an interrupted swap BEFORE waiting on input: a crash
    // between the two renames leaves the data one rename away, and a
    // restart with no pending files would otherwise never run a batch
    // (so never recover) while readers of registerPath fail meanwhile
    recoverRegisters(registerPath)
    drain(in, checkpoint, OutputMode.Update) { (batch, _) =>
      val spark = batch.sparkSession
      recoverRegisters(registerPath)
      val live = new java.io.File(registerPath)
      val staged = new java.io.File(registerPath + ".staged")
      val retired = new java.io.File(registerPath + ".retired")
      val fresh = graft.ops.Sketch.hllRegisters(batch, groups, value)
      val merged =
        if (live.exists())
          graft.ops.Sketch.hllMerge(
            spark.read.parquet(registerPath), fresh, groups)
        else fresh
      // 1. full write beside the live table (which stays untouched)
      merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(staged.getPath)
      // 2. swap: two atomic directory renames
      if (live.exists() && !live.renameTo(retired))
        throw new java.io.IOException(s"could not retire $registerPath")
      if (!staged.renameTo(live))
        throw new java.io.IOException(s"could not publish $registerPath")
      deleteRecursively(retired)
    }
  }

  /** Repair an interrupted [[sketchStream]] swap (idempotent, cheap):
    * a complete retired table with no live sibling is restored; stray
    * staged/retired leftovers are discarded (their batch replays).
    */
  def recoverRegisters(registerPath: String): Unit = {
    val live = new java.io.File(registerPath)
    val staged = new java.io.File(registerPath + ".staged")
    val retired = new java.io.File(registerPath + ".retired")
    if (!live.exists() && retired.exists() && !retired.renameTo(live))
      throw new java.io.IOException(s"could not restore $registerPath")
    deleteRecursively(staged)
    deleteRecursively(retired)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Streaming corpus-hygiene gate — the continuous face of the
    * text-quality operators (Text.qualityScore / repetitionScore,
    * Dedup.contaminationOverlap): each micro-batch of documents is
    * scored, checked against a STATIC benchmark shingle set
    * (broadcast; eval suites are tiny), and routed — accepted rows
    * append to `acceptPath`, rejects with a deterministic reason
    * taxonomy (first failing gate wins: quality → repetition →
    * contamination, mirroring the V5 gate-order contract) append to
    * `rejectPath`. Both sinks are plain appends, so checkpoint
    * replays re-append the same rows; downstream consumers dedup by
    * doc id exactly as the warehouse absorbs re-deliveries.
    */
  /** Streaming WRITE–AUDIT–PUBLISH: every micro-batch stages a FULL
    * candidate snapshot (currently published rows ∪ the batch) under a
    * batch-derived wap id, audits the candidate THROUGH the staged
    * read face, and atomically publishes it — or discards the whole
    * batch when any audited row is bad. Batch-level quarantine with
    * the q362 isolation guarantee: main readers never see an
    * unaudited row, and a poisoned batch vanishes without a trace
    * (its data dirs age out via vacuum's orphan sweep).
    *
    * Replay-idempotent on BOTH axes. Content: the candidate carries
    * CONTENT-SET semantics (published ∪ batch, exact-duplicate rows
    * collapsed), so re-running the whole stream over the same batch
    * sequence re-derives the same decisions and converges to the
    * same published content. Version arithmetic: each publish goes
    * through [[graft.sources.Snapshot.publishIdempotent]] under the
    * batch-derived wap id, which the published manifest itself
    * records — a crash after publish but before the checkpoint
    * commit replays the batch, finds its id already published, and
    * skips (staging included), so version COUNTS converge too (the
    * r13 advisor gap: publish and checkpoint commit are not atomic,
    * and q370's `versions` output pins the count, not just the
    * content). Per-batch cost: one audit
    * scan + one candidate write; the published side re-writes per
    * publish under full-snapshot semantics — at production scale the
    * candidate would stage ONLY the batch and publish through
    * [[graft.sources.Snapshot.merge]]; the gate keeps full-snapshot
    * candidates so the audit face provably sees base ∪ batch.
    */
  def wapStream(in: DataFrame, table: String, checkpoint: String,
                badPred: org.apache.spark.sql.Column): Unit = {
    import graft.sources.Snapshot
    drain(in, checkpoint) { (batch, bid) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val name = f"wap-$bid%06d"
        // replay short-circuit: a version already published from
        // this batch's wap id means the crash window landed between
        // publish and the checkpoint commit — skip staging entirely
        if (Snapshot.publishedWap(table, name).isEmpty) {
          val candidate = (Snapshot.latestVersion(table) match {
            case Some(_) => Snapshot.read(spark, table).unionByName(batch)
            case None => batch
          }).dropDuplicates()
          Snapshot.commitStaged(candidate, table, name)
          // the audit runs against the STAGED face — exactly what
          // would publish, never the raw batch frame
          val bad = Snapshot.readStaged(spark, table, name)
            .filter(badPred).count()
          if (bad == 0) { Snapshot.publishIdempotent(table, name); () }
          else Snapshot.discardStaged(table, name)
        }
      }
    }
  }

  def hygieneStream(in: DataFrame, benchDocs: DataFrame,
                    acceptPath: String, rejectPath: String,
                    checkpoint: String, minQuality: Double = 0.2): Unit = {
    import graft.ops.{Dedup, Text}
    // the benchmark set is static: shingle it ONCE and persist, so each
    // micro-batch broadcasts from the cache instead of re-running the
    // tokenize→shingle→distinct pipeline per batch
    val bench = benchDocs.select(
      Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs"))
      .persist()
    try drain(in, checkpoint) { (batch, _) =>
      if (!batch.isEmpty) {
        val scored = batch
          .withColumn("quality", Text.qualityScore(col("text")))
          .withColumn("repetition", Text.repetitionScore(col("text"), 3))
          .withColumn("hs", Dedup.hashedShingles(Text.tokens(col("text")), 3))
        val shared = Dedup.contaminationOverlap(
          scored.select(col("doc_id").as("id"), col("hs")), "id", "hs",
          bench, "hs")
          .select(col("id").as("doc_id"), col("n_shared"))
        val routed = hold(scored.join(shared, "doc_id")
          .withColumn("reason",
            when(col("quality") < minQuality, lit("low_quality"))
              .when(col("repetition") > 0.5, lit("repetitive"))
              .when(col("n_shared") > 0L, lit("contaminated")))
          .persist())
        routed.filter(col("reason").isNull)
          .drop("hs", "reason")
          .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(acceptPath)
        routed.filter(col("reason").isNotNull)
          .select(col("doc_id"), col("reason"))
          .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(rejectPath)
      }
    }
    finally bench.unpersist(): Unit
  }

  /** Streaming DSIR gate — the continuous face of
    * [[graft.ops.Sampling.dsirScore]] (q397): a FROZEN importance
    * model (the bucket→λ table, fit once upstream on target+raw
    * corpora) scores every incoming document and routes it
    * keep/drop by the weight threshold. The model persists ONCE and
    * broadcasts per batch (bucket-table-sized — never re-fit in the
    * hot path; re-fitting on a cadence is a snapshot swap upstream,
    * the q353 pattern), so per-batch cost is one explode + one
    * broadcast join + one per-doc sum over the BATCH alone. Routed
    * rows carry (doc_id, n_feats, w_micro) to `keepPath`/`dropPath`.
    */
  def dsirStream(in: DataFrame, model: DataFrame, buckets: Int,
                 keepPath: String, dropPath: String, checkpoint: String,
                 thresholdMicro: Long): Unit = {
    import graft.ops.Sampling
    val m = model.persist()
    try drain(in, checkpoint) { (batch, _) =>
      if (!batch.isEmpty) {
        val scored = hold(Sampling.dsirScore(batch, col("doc_id"),
          col("text"), m, buckets)
          .select(col("id").as("doc_id"), col("n_feats"),
            col("w_micro"))
          .persist())
        scored.filter(col("w_micro") >= thresholdMicro)
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(keepPath)
        scored.filter(col("w_micro") < thresholdMicro)
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(dropPath)
      }
    }
    finally m.unpersist(): Unit
  }

  /** Streaming PREFERENCE-DUEL ingestion — the RLHF data tier's
    * continuous face ([[graft.ops.Preference]]): each micro-batch of
    * (winner, loser) duels collapses map-side to its partial duel
    * matrix and lands under `matrixPath/batch=<id>` with OVERWRITE —
    * the batchId is Structured Streaming's replay key, so a crash
    * replay rewrites the SAME directory with the SAME partial counts
    * (sum-fold replay safety WITHOUT max-merge tricks, the
    * driftStream convention; an additive matrix must never re-add a
    * replayed batch). Ratings are computed from the accumulated
    * matrix AFTER ingestion ([[streamedRatings]]): the matrix is
    * additive and the MM rounds run on the final totals, so the
    * result is batch-order independent and equals the corpus-at-once
    * [[graft.ops.Preference.bradleyTerry]] exactly.
    */
  def preferenceStream(in: DataFrame, winner: org.apache.spark.sql.Column,
                       loser: org.apache.spark.sql.Column,
                       matrixPath: String, checkpoint: String): Unit =
    drain(in, checkpoint) { (batch, bid) =>
      if (!batch.isEmpty)
        graft.ops.Preference.duelMatrix(batch, winner, loser)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$matrixPath/batch=$bid")
    }

  /** Streaming CONFORMAL calibration ingestion (15th pipeline) — the
    * continuous face of [[graft.ops.Quality.conformalCalibration]]:
    * calibration scores arrive in micro-batches, each batch collapses
    * map-side to its ADDITIVE (grp, score, count) partial histogram
    * and lands under `calPath/batch=<id>` with OVERWRITE (batchId =
    * the replay key, the preferenceStream convention: a crash replay
    * rewrites the same directory with the same partial counts). The
    * accumulated histogram is order-free, so
    * [[streamedConformal]]'s thresholds equal the corpus-at-once
    * rank formulation exactly — which is how the batch oracle gates
    * this stream.
    */
  def conformalStream(in: DataFrame, grp: org.apache.spark.sql.Column,
                      score: org.apache.spark.sql.Column,
                      calPath: String, checkpoint: String): Unit =
    drain(in, checkpoint) { (batch, bid) =>
      if (!batch.isEmpty)
        batch
          .groupBy(grp.as("grp"), score.cast("long").as("score"))
          .agg(count(lit(1)).as("c"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$calPath/batch=$bid")
    }

  /** Read back [[conformalStream]]'s accumulated histogram and audit
    * coverage against a static holdout — the running-count threshold
    * algebra of [[graft.ops.Quality.conformalFromHistogram]].
    */
  def streamedConformal(spark: org.apache.spark.sql.SparkSession,
                        calPath: String, holdout: DataFrame,
                        alphaPcts: Seq[Int]): DataFrame =
    graft.ops.Quality.conformalFromHistogram(
      spark.read.parquet(calPath), holdout, alphaPcts)

  /** Streaming DP-LEDGER ingestion (16th pipeline) — the continuous
    * face of [[graft.ops.Profile.dpBudgetAccountant]]: (ε, δ) query
    * charges arrive in micro-batches, each collapses map-side to its
    * additive (analyst, part, nq, se, sd) partial and lands under
    * `ledgerPath/batch=<id>` with OVERWRITE (the preferenceStream
    * replay convention). Budget composition is pure summation/max,
    * so [[streamedDpAccountant]] over the accumulated partials
    * equals the corpus-at-once accountant — a budget gate that can
    * run against the live ledger between batches.
    */
  def dpLedgerStream(in: DataFrame, analyst: org.apache.spark.sql.Column,
                     partition: org.apache.spark.sql.Column,
                     epsMicro: org.apache.spark.sql.Column,
                     deltaNano: org.apache.spark.sql.Column,
                     ledgerPath: String, checkpoint: String): Unit =
    drain(in, checkpoint) { (batch, bid) =>
      if (!batch.isEmpty)
        batch
          .groupBy(analyst.as("analyst"), partition.as("part"))
          .agg(count(lit(1)).as("nq"),
            sum(epsMicro.cast("long")).as("se"),
            sum(deltaNano.cast("long")).as("sd"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$ledgerPath/batch=$bid")
    }

  /** Read back [[dpLedgerStream]]'s accumulated partials and apply
    * the cap verdicts — the dpBudgetAccountant algebra over the
    * merged (analyst, part) sums.
    */
  def streamedDpAccountant(spark: org.apache.spark.sql.SparkSession,
                           ledgerPath: String, epsCapMicro: Long,
                           deltaCapNano: Long): DataFrame = {
    val merged = spark.read.parquet(ledgerPath)
      .groupBy(col("analyst"), col("part"))
      .agg(sum(col("nq")).as("nq"), sum(col("se")).as("se"),
        sum(col("sd")).as("sd"))
    merged.groupBy(col("analyst"))
      .agg(sum(col("nq")).as("n_queries"),
        count(lit(1)).as("n_partitions"),
        sum(col("se")).as("eps_seq_micro"),
        sum(col("sd")).as("delta_seq_nano"),
        max(col("se")).as("eps_parallel_micro"))
      .select(col("analyst"), col("n_queries"), col("n_partitions"),
        col("eps_seq_micro"), col("delta_seq_nano"),
        col("eps_parallel_micro"),
        (lit(epsCapMicro) - col("eps_seq_micro"))
          .as("eps_remaining_micro"),
        (col("eps_seq_micro") > epsCapMicro ||
          col("delta_seq_nano") > deltaCapNano).as("over_budget"))
  }

  /** Streaming ERASURE propagation — the GDPR/right-to-be-forgotten
    * pipeline: erasure REQUESTS arrive as a stream of keys and each
    * micro-batch lands one deletion-vector version on the governed
    * table ([[graft.sources.Snapshot.deleteVectored]] — zero data
    * rewrite, the DV anti-join hides the rows immediately). Requests
    * are HUMAN-SIZED (the per-batch key set collects to the driver to
    * form the predicate — bounded by contract, like relevance
    * judgments); content is idempotent under replay (re-deleting
    * deleted keys is a no-op read-wise) and batch-order independent;
    * the version count is a clean-run observable. History still
    * retains until expiry — [[graft.sources.Snapshot.erasureAudit]]
    * is the companion read; the stream makes rows unreadable NOW,
    * retention policy makes the erasure real.
    */
  def erasureStream(in: DataFrame, table: String, keyCol: String,
                    checkpoint: String): Unit =
    drain(in, checkpoint) { (batch, _) =>
      val keys = batch.select(col(keyCol)).distinct().collect()
        .map(_.get(0))
      if (keys.nonEmpty)
        graft.sources.Snapshot.deleteVectored(batch.sparkSession,
          table, keyCol, col(keyCol).isin(keys.toSeq: _*)): Unit
    }

  /** Fold the per-batch duel-matrix partials written by
    * [[preferenceStream]] and run the fixed-point MM rounds on the
    * totals. One sum aggregate over batch-partition files, then the
    * model-sized rating iteration.
    */
  def streamedRatings(spark: org.apache.spark.sql.SparkSession,
                      matrixPath: String, rounds: Int): DataFrame = {
    val matrix = spark.read.parquet(matrixPath)
      .groupBy(col("i"), col("j"))
      .agg(sum(col("wins")).as("wins"))
    graft.ops.Preference.bradleyTerryFromMatrix(matrix, rounds)
  }

  /** Streaming distribution-drift monitor — the continuous face of
    * [[graft.ops.Quality.psiBetween]] (q90): each micro-batch's value
    * histogram lands in a snapshot table PARTITIONED BY a
    * content-derived batch fingerprint, and the ACCUMULATED histogram
    * is PSI-scored against a static reference after every batch; one
    * monitor row (batch_fp, n_rows, n_bins, psi, alarm) appends to
    * `alarmPath` per batch.
    *
    * Exactness + replay-idempotence WITHOUT max-merge tricks: counts
    * don't max-merge (a replayed batch would double-count a plain
    * sum-fold), so each batch's histogram is keyed by (epoch, content
    * fingerprint) — the foreachBatch batchId, which Structured
    * Streaming replays UNCHANGED after a crash, plus an order-free
    * exact decimal sum of row hashes — and committed via the snapshot
    * MERGE: a crash replay rewrites the SAME partition with the SAME
    * rows and the cumulative sum-over-partitions is unchanged, while
    * two legitimately DISTINCT but byte-identical batches (a
    * constant-valued feed) carry different epochs and both count —
    * content-only keying silently collapsed them (round-5 advice).
    * Alarm rows re-append on replay; consumers dedup by batch_fp, the
    * hygieneStream contract.
    *
    * A disjoint-support histogram (n_bins = 0, psi null) alarms: zero
    * overlap IS maximal drift.
    */
  def driftStream(in: DataFrame, value: org.apache.spark.sql.Column,
                  binWidth: Double, refHist: DataFrame,
                  registerTable: String, alarmPath: String,
                  checkpoint: String): Unit = {
    import graft.ops.{Dedup, Quality}
    import graft.sources.Snapshot
    require(binWidth > 0, "binWidth must be positive")
    val ref = refHist.select(col("bin"), col("n_r")).persist()
    try drain(in, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val vals = hold(batch.select(value.as("v")).persist())
        val fpRow = vals.agg(
          pmod(sum(Dedup.hashLong(col("v").cast("string"))
              .cast("decimal(38,0)")),
            lit(1152921504606846976L)).cast("long").as("fp"),
          count(lit(1)).as("n")).head()
        val fp = "b" + batchId + "_" + fpRow.getLong(0)
        val hist = vals
          .groupBy(floor(col("v") / binWidth).cast("long").as("bin"))
          .agg(count(lit(1)).as("n_c"))
          .withColumn("batch_fp", lit(fp))
        Snapshot.merge(hist, registerTable, Seq("batch_fp", "bin"),
          "n_c", "batch_fp")
        val cum = Snapshot.read(spark, registerTable)
          .groupBy(col("bin")).agg(sum(col("n_c")).as("n_c"))
        Quality.psiBetween(ref, cum)
          .select(lit(fp).as("batch_fp"),
            lit(fpRow.getLong(1)).as("n_rows"),
            col("n_bins"),
            col("psi"),
            when(col("n_bins") === 0, lit(true))
              .otherwise(col("psi") >= 0.2).as("alarm"))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(alarmPath)
      }
    }
    finally ref.unpersist(): Unit
  }

  /** Corpus-growing streaming dedup — the continuous face of
    * [[graft.ops.Dedup.jaccardPairsIncremental]]: each micro-batch is
    * an increment deduped against the ACCUMULATED corpus snapshot
    * (old×old is never re-paired, so per-batch candidate cost tracks
    * the increment, not corpus age²), and the survivors append to the
    * corpus via an atomic snapshot merge partitioned by ingest batch.
    *
    * Shingle hashes are STORED with the corpus (`hs` column) so later
    * batches never re-tokenize history; the per-batch index rebuild
    * still reads the corpus once — the next evolution at 100 TB is a
    * persistent posting-list snapshot, which this layout (stable ids,
    * stored hashes, batch partitions) is shaped for.
    *
    * Crash replay is naturally idempotent WITHOUT relying on the
    * checkpoint: a replayed survivor finds its own previously-committed
    * copy at jaccard 1.0 and drops; a replayed reject re-matches
    * whatever dropped it before; and the snapshot merge touches only
    * the replayed batch's own partition.
    *
    * Compaction: same policy as [[erStream]] — when the manifest holds
    * ≥ `compactEvery` per-batch partition dirs, collapse them into one
    * via [[graft.sources.Snapshot.compactInto]]. Replay-safe for the
    * same reason replay is
    * idempotent at all: a replayed survivor is re-detected against the
    * COMPACTED corpus by content (jaccard 1.0 with its committed
    * copy), never by partition lookup or old versions.
    */
  def dedupStream(in: DataFrame, table: String, checkpoint: String,
                  threshold: Double = 0.5,
                  compactEvery: Int = CompactEvery): Unit = {
    import graft.ops.{Dedup, Text}
    import graft.sources.Snapshot
    drain(in, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val fresh = hold(batch.select(col("doc_id"), col("text"))
          // cast to the DDL (containsNull=true) array form: the
          // expression's containsNull=false schema won't round-trip
          // through the manifest, and ARRAY casts only widen
          .withColumn("hs",
            Dedup.hashedShingles(Text.tokens(col("text")), 3)
              .cast("array<bigint>"))
          .persist())
        val corpus = Snapshot.latestVersion(table) match {
          case Some(_) => Snapshot.read(spark, table)
            .select(col("doc_id"), col("hs"))
          case None => fresh.select(col("doc_id"), col("hs")).limit(0)
        }
        // the incremental op persists corpus-sized frames internally;
        // hold their handles so THIS batch releases exactly what it
        // created (a clearCache() here would evict caller-owned tables
        // from the shared session)
        val dropIds = Dedup.jaccardPairsIncremental(
            corpus.withColumnRenamed("doc_id", "id"),
            fresh.select(col("doc_id").as("id"), col("hs")),
            "id", "hs", threshold, registerCache = df => hold(df): Unit)
          .select(col("id_new").as("doc_id")).distinct()
        // eager checkpoint: emptiness probe + merge (collect + upsert)
        // each re-ran the candidate/verify cascade past the op's own
        // internal persists (r16: the decontaminationStream lesson)
        val survivors = hold(fresh.join(dropIds, Seq("doc_id"), "left_anti")
          .withColumn("ingest_batch", lit(batchId))
          .localCheckpoint(true))
        if (!survivors.isEmpty)
          Snapshot.merge(survivors, table, Seq("doc_id"), "doc_id",
            "ingest_batch"): Unit
        if (compactEvery > 0) Snapshot.latestVersion(table).foreach { v =>
          if (Snapshot.readManifest(table, v).dirs.size >= compactEvery)
            Snapshot.compactInto(spark, table, lit(batchId))
        }
      }
    }
  }

  /** Streaming crawl-frontier dedup — the continuous face of
    * [[graft.ops.Web.dedupByCanonicalUrl]]: each micro-batch of fetched
    * URLs canonicalizes in its scan pass (pure codegen'd string
    * expressions), collapses within-batch duplicates to the smallest-id
    * fetch per canonical key, anti-joins the ACCUMULATED frontier
    * snapshot on the canonical key (the URL-index lookup a crawler
    * performs anyway — an equi-join, never content comparison), and
    * appends only first-seen URLs.
    *
    * Replay is idempotent WITHOUT the checkpoint: a replayed survivor
    * finds its own committed canonical key in the frontier and drops;
    * the snapshot merge touches only the replayed batch's partition.
    * Compaction mirrors [[dedupStream]]'s policy.
    */
  def urlDedupStream(in: DataFrame, table: String, checkpoint: String): Unit = {
    import graft.ops.Web
    import graft.sources.Snapshot
    drain(in, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val fresh = batch
          .select(col("doc_id"), col("url"),
            Web.canonicalizeUrl(col("url")).as("canonical_url"))
          .groupBy(col("canonical_url"))
          .agg(min(col("doc_id")).as("doc_id"),
            min_by(col("url"), col("doc_id")).as("url"))
        // eager checkpoint: emptiness probe + merge each re-ran the
        // canonicalize + frontier anti-join (r16)
        val survivors = hold((Snapshot.latestVersion(table) match {
          case Some(_) =>
            fresh.join(Snapshot.read(spark, table)
                .select(col("canonical_url")),
              Seq("canonical_url"), "left_anti")
          case None => fresh
        }).withColumn("ingest_batch", lit(batchId))
          .localCheckpoint(true))
        if (!survivors.isEmpty)
          Snapshot.merge(survivors, table, Seq("canonical_url"),
            "doc_id", "ingest_batch"): Unit
        Snapshot.latestVersion(table).foreach { v =>
          if (Snapshot.readManifest(table, v).dirs.size >= CompactEvery)
            Snapshot.compactInto(spark, table, lit(batchId))
        }
      }
    }
  }

  /** Streaming DISTRIBUTION-MATCH thinning — the streaming face of
    * [[graft.ops.Sampling.profileMatchThinning]]: a batch-fit stats
    * table (from `Sampling.profileMatchStats` — per-(g, bin) num/den
    * ratios plus the exact binning constants vmin/w) broadcasts
    * against every micro-batch; incoming rows bin with the SAME
    * integer floor-div and thin with the SAME md5 cross-multiply
    * draw·den < num, so the stream keeps EXACTLY the rows the batch
    * op would have kept. Survivors merge into a snapshot table keyed
    * by row key (idempotent under replay). Rows outside the fitted
    * grid clamp to the edge bins; a (g, bin) cell the profile never
    * saw passes through untouched — drift widens the output, it never
    * silently loses data. Input contract: `in` has columns (g, v, k).
    */
  def profileThinStream(in: DataFrame, stats: DataFrame, bins: Int,
                        table: String, checkpoint: String): Unit = {
    import graft.ops.Dedup
    import graft.sources.Snapshot
    val statRows = stats.select(col("g"), col("bin"), col("num"),
      col("den"), col("vmin"), col("w")).persist()
    try {
      // An EMPTY stats table would make cfg (limit(1)) empty and the
      // crossJoin below silently drop EVERY incoming row — the opposite
      // of the pass-through contract. Fail fast at stream setup instead.
      require(!statRows.isEmpty,
        "profileThinStream: fitted stats table is empty — fit " +
          "Sampling.profileMatchStats first (an empty profile would " +
          "silently discard the whole stream)")
      drain(in, checkpoint) { (batch, batchId) =>
        if (!batch.isEmpty) {
          val cfg = statRows.select(col("vmin"), col("w")).limit(1)
          val x = col("v") - col("vmin")
          val binned = batch
            .select(col("g"), col("v").cast("long").as("v"),
              col("k").cast("string").as("k"))
            .crossJoin(broadcast(cfg))
            .select(col("g"), col("k"),
              least(lit(bins.toLong - 1), greatest(lit(0L),
                ((x - pmod(x, col("w"))) / col("w")).cast("long")))
                .as("bin"))
          val kept = hold(binned
            .join(broadcast(statRows.select(col("g"), col("bin"),
              col("num"), col("den"))), Seq("g", "bin"), "left")
            .filter(col("den").isNull ||
              pmod(Dedup.hashLong(concat(lit("dm"), col("k"))),
                lit(1000000L)).cast("decimal(38,0)") * col("den")
                < col("num"))
            .select(col("k"), col("g"), col("bin"))
            .withColumn("ingest_batch", lit(batchId))
            // eager checkpoint: emptiness probe + merge each re-ran the
            // bin + thin cascade (r16)
            .localCheckpoint(true))
          if (!kept.isEmpty)
            Snapshot.merge(kept, table, Seq("k"), "bin",
              "ingest_batch"): Unit
        }
      }
    } finally statRows.unpersist(): Unit
  }

  /** Streaming LSH dedup over a PERSISTENT banded-index snapshot — the
    * 100 TB evolution [[dedupStream]]'s scaladoc promises: dedupStream
    * re-reads the whole corpus and rebuilds its prefix index every
    * micro-batch (per-batch cost grows with corpus AGE), whereas here
    * the (band, bucket, doc_id) posting list lives in its OWN snapshot
    * table, appended incrementally — per-batch cost is the increment's
    * banding, one equi-join of its postings against the stored index,
    * and a verification read that opens only the corpus FILES whose
    * footer id-range can hold a matched candidate (Snapshot.readForKeys
    * point-lookup pruning; full-scan fallback past 64k candidates).
    * History is never re-banded, never re-tokenized, never re-paired.
    *
    * Two snapshot tables, each committed atomically per batch (corpus
    * first, then index — a crash between them leaves committed docs
    * whose postings are missing, and the REPLAY re-appends postings
    * for records that resolve at jaccard 1.0 to themselves... which
    * merge dedups by (band, bucket, doc_id) keys, so the index
    * converges instead of duplicating):
    *  - `table`:      (doc_id, hs, sig, ingest_batch) — survivors
    *  - `indexTable`: (band, bucket, doc_id, ingest_batch) — postings
    *
    * LSH is the approximate path: a true near-dup pair is dropped only
    * if NO band collides (the standard S-curve miss probability);
    * exact duplicates always collide (equal signatures ⇒ equal bands).
    * Same compaction policy as [[dedupStream]].
    */
  def lshDedupStream(in: DataFrame, table: String, indexTable: String,
                     checkpoint: String, threshold: Double = 0.5,
                     bands: Int = 4, rowsPerBand: Int = 4): Unit = {
    import graft.ops.{Dedup, Text}
    import graft.sources.Snapshot
    drain(in, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val fresh = hold(batch.select(col("doc_id"), col("text"))
          .withColumn("hs",
            Dedup.hashedShingles(Text.tokens(col("text")), 3)
              .cast("array<bigint>"))
          .withColumn("sig",
            Dedup.minhashSignatureNative(col("hs"), bands * rowsPerBand)
              .cast("array<bigint>"))
          .drop("text").persist())
        val freshPostings = fresh.select(col("doc_id"),
          posexplode(Dedup.lshBandBuckets(col("sig"), bands, rowsPerBand))
            .as(Seq("band", "bucket")))
        val stored = Snapshot.latestVersion(indexTable) match {
          case Some(_) => Snapshot.read(spark, indexTable)
            .select(col("band"), col("bucket"), col("doc_id"))
          case None => freshPostings.limit(0)
        }
        // candidates: fresh postings probe stored ∪ earlier-fresh
        // (old×old never pairs — the incremental asymmetry). A fresh
        // doc pairs with a STORED near-dup regardless of id order
        // (ids are opaque; history always wins) — the id-order
        // constraint applies only WITHIN the increment, where it
        // fixes keep-first semantics and halves new×new pairs. The
        // self-pair exclusion keeps replays convergent: a re-played
        // committed doc finds its own postings at jaccard 1.0 and
        // must survive again (the keyed merge dedups), not drop.
        val cands = freshPostings.as("a")
          .join(stored.withColumn("is_new", lit(false)).as("b")
              .unionByName(
                freshPostings.withColumn("is_new", lit(true)).as("b")),
            col("a.band") === col("b.band") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.doc_id") =!= col("b.doc_id") &&
              (!col("b.is_new") || col("a.doc_id") > col("b.doc_id")))
          .select(col("a.doc_id").as("doc_id"),
            col("b.doc_id").as("id_match"))
          .distinct()
        // verify on full hash sets: fresh side from this batch, match
        // side from the corpus snapshot ∪ this batch. When the
        // candidate id set is bounded, the corpus side becomes a
        // POINT-LOOKUP scan (readForKeys): only files whose footer
        // id-range can hold a matched id are opened — O(candidates)
        // files at any corpus size, instead of a full corpus scan
        // per batch. Unbounded candidate sets (a pathological batch)
        // fall back to the full scan rather than a huge collect.
        val candsP = hold(cands.persist())
        val corpusHs = Snapshot.latestVersion(table) match {
          case Some(_) =>
            val ids = candsP.select(col("id_match")).distinct()
              .limit(65537).collect().map(_.getLong(0))
            if (ids.length <= 65536)
              Snapshot.readForKeys(spark, table, "doc_id",
                  ids.map(_.toString).toSeq)
                .select(col("doc_id"), col("hs"))
            else Snapshot.read(spark, table)
              .select(col("doc_id"), col("hs"))
          case None => fresh.select(col("doc_id"), col("hs")).limit(0)
        }
        val matchHs = corpusHs
          .unionByName(fresh.select(col("doc_id"), col("hs")))
        val dropIds = candsP
          .join(fresh.select(col("doc_id"), col("hs").as("hsa")),
            Seq("doc_id"))
          .join(matchHs.select(col("doc_id").as("id_match"),
            col("hs").as("hsb")), Seq("id_match"))
          .filter(round(Dedup.jaccardHashed(col("hsa"), col("hsb")), 4)
            >= threshold)
          .select(col("doc_id")).distinct()
        val survivors = hold(fresh.join(dropIds, Seq("doc_id"), "left_anti")
          .withColumn("ingest_batch", lit(batchId)).persist())
        if (!survivors.isEmpty) {
          Snapshot.merge(survivors.drop("sig")
              .select(col("doc_id"), col("hs"), col("ingest_batch")),
            table, Seq("doc_id"), "doc_id", "ingest_batch")
          Snapshot.merge(survivors.select(col("doc_id"),
              posexplode(Dedup.lshBandBuckets(col("sig"), bands,
                rowsPerBand)).as(Seq("band", "bucket")),
              col("ingest_batch"))
              .select(col("band"), col("bucket"), col("doc_id"),
                col("ingest_batch")),
            indexTable, Seq("band", "bucket", "doc_id"), "doc_id",
            "ingest_batch"): Unit
        }
        // corpus compaction RANGE-CLUSTERS on doc_id: that is what
        // keeps per-file footer id-ranges disjoint, so the next
        // batches' readForKeys verification stays a point lookup
        // even after history collapses into one partition dir
        for (t <- Seq(table, indexTable))
          Snapshot.latestVersion(t).foreach { v =>
            if (Snapshot.readManifest(t, v).dirs.size >= CompactEvery) {
              if (t == table)
                Snapshot.compactInto(spark, t, lit(batchId),
                  targetFiles = CompactEvery, clusterBy = Some("doc_id"))
              else Snapshot.compactInto(spark, t, lit(batchId))
            }
          }
      }
    }
  }

  /** Streaming EMBEDDING dedup over a persistent IVF cell index — the
    * vector-modality sibling of [[lshDedupStream]]: each micro-batch of
    * (doc_id, vec) rows is coarse-quantized against a FROZEN centroid
    * set, candidates are the same-cell members of the accumulated
    * corpus (∪ earlier rows of the own batch; old×old never pairs),
    * and the exact double cosine verifies each candidate on vectors
    * read back from the corpus snapshot — a point-lookup scan when the
    * candidate id set is bounded ([[graft.sources.Snapshot.readForKeys]]
    * footer pruning; full-scan fallback past 64k), so per-batch cost
    * tracks cell occupancy of the increment, not corpus age.
    *
    * The coarse model trains on first contact: the first batch's
    * lowest-id vectors seed `modelTable` (`centroidsK` of them, or
    * `chooseK(|batch|)` when `refreshFactor > 0`); deterministic ⇒ a
    * replayed first batch re-derives the identical seed and the keyed
    * merge converges. Like LSH banding this path is approximate — a
    * cross-cell near-dup pair can slip — but assignment is
    * deterministic, so an EXACT duplicate always lands in its copy's
    * cell and always drops.
    *
    * MODEL REFRESH (`refreshFactor > 0`): a frozen k under-partitions
    * a growing corpus — same-cell candidate cost is Σ occupancy² ≈
    * n²/k, so at 100× the per-batch probe degrades quadratically
    * while [[graft.ops.Similarity.chooseK]]'s √n contract keeps it
    * Θ(n^1.5) (NOTES 100/r13). Before processing a batch, if
    * `chooseK(corpusCount) >= refreshFactor · currentK` (corpus count
    * from the manifest stat — no scan), the model RETRAINS and swaps
    * atomically: new centroids = the `chooseK(n)` lowest-id corpus
    * vectors committed as a NEW `modelTable` version, and the corpus
    * re-assigns its stored cells against them in one clustered
    * rewrite. The rewrite is O(n), but k grows geometrically (factor
    * ≥ `refreshFactor` per refresh) so a stream pays O(log n)
    * refreshes — amortized O(n log n), dominated by the O(n^1.5)
    * probe work it bounds. Crash-safe: the swap is two ordinary
    * manifest commits BEFORE the batch's own merge; a replayed batch
    * re-evaluates the trigger against the already-swapped model
    * (kTarget ≈ currentK ⇒ no double refresh) and re-processes
    * against the same centroids it saw pre-crash.
    *
    * Tables (each an atomic per-batch snapshot merge):
    *  - `modelTable`: (cid, cvec) — the L2 centroids (frozen, or
    *    refresh-swapped as above)
    *  - `table`: (doc_id, vec, cell, ingest_batch) — survivors, with
    *    their cell stored so history is never re-assigned between
    *    refreshes
    * Compaction: [[lshDedupStream]]'s policy, corpus
    * range-clustered on doc_id to keep point lookups pruned.
    */
  def annDedupStream(in: DataFrame, table: String, modelTable: String,
                     checkpoint: String, threshold: Double = 0.99,
                     centroidsK: Int = 16,
                     refreshFactor: Double = 0.0): Unit = {
    import graft.ops.Similarity
    import graft.sources.Snapshot
    drain(in, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val fresh0 = batch
          .select(col("doc_id"), col("vec").cast("array<float>"))
        if (Snapshot.latestVersion(modelTable).isEmpty) {
          val k0 = if (refreshFactor > 0)
            Similarity.chooseK(fresh0.count()) else centroidsK
          val seed = fresh0.orderBy(col("doc_id")).limit(k0)
            .select(col("doc_id").as("cid"), col("vec").as("cvec"),
              lit(0L).as("ingest_batch"))
          Snapshot.merge(seed, modelTable, Seq("cid"), "cid",
            "ingest_batch"): Unit
        } else if (refreshFactor > 0 &&
            Snapshot.latestVersion(table).nonEmpty) {
          val n = Snapshot.countStar(table).getOrElse(0L)
          val kTarget = Similarity.chooseK(n)
          // manifest row-count stat — the model table commits through
          // writeData's footer harvest, so a scan job per batch here
          // was pure overhead (r16)
          val kNow = Snapshot.countStar(modelTable).getOrElse(
            Snapshot.read(spark, modelTable).count())
          if (kTarget >= refreshFactor * kNow) {
            val corpus = hold(Snapshot.read(spark, table)
              .select(col("doc_id"), col("vec"), col("ingest_batch"))
              .persist())
            val newCen = corpus.orderBy(col("doc_id")).limit(kTarget)
              .select(col("doc_id").as("cid"), col("vec").as("cvec"),
                lit(batchId).as("ingest_batch"))
            Snapshot.commit(newCen, modelTable,
              Some("ingest_batch")): Unit
            val reassigned = Similarity.ivfAssignL2(
                corpus.select(col("doc_id").as("id"), col("vec")),
                newCen.select(col("cid"), col("cvec")))
              .select(col("id").as("doc_id"),
                col("vec").cast("array<float>").as("vec"), col("cell"))
              .join(corpus.select(col("doc_id"), col("ingest_batch")),
                Seq("doc_id"))
            Snapshot.commit(reassigned, table, Some("ingest_batch"),
              clusterBy = Some("doc_id")): Unit
            corpus.unpersist(): Unit
          }
        }
        val centroids = Snapshot.read(spark, modelTable)
          .select(col("cid"), col("cvec"))
        val fresh = hold(Similarity.ivfAssignL2(
            fresh0.select(col("doc_id").as("id"), col("vec")), centroids)
          .select(col("id").as("doc_id"),
            col("vec").cast("array<float>").as("vec"), col("cell"))
          .persist())
        val storedCells = Snapshot.latestVersion(table) match {
          case Some(_) => Snapshot.read(spark, table)
            .select(col("doc_id"), col("cell"))
          case None => fresh.select(col("doc_id"), col("cell")).limit(0)
        }
        val freshCells = fresh.select(col("doc_id"), col("cell"))
        // fresh×stored pairs unconditionally (history wins whatever
        // the id order); id-order only within the increment; self-
        // pairs excluded so replays converge — see lshDedupStream.
        // The candidate rule itself is the batch kernel's
        // (Similarity.sameCellCandidates), so recall fixes land in
        // both paths.
        val candsP = hold(Similarity.sameCellCandidates(
            freshCells.select(col("doc_id").as("id"), col("cell")),
            storedCells.select(col("doc_id").as("id"), col("cell"))
              .withColumn("is_new", lit(false))
              .unionByName(freshCells
                .select(col("doc_id").as("id"), col("cell"))
                .withColumn("is_new", lit(true))))
          .select(col("id_new").as("doc_id"), col("id_match"))
          .distinct().persist())
        val corpusVecs = Snapshot.latestVersion(table) match {
          case Some(_) =>
            val ids = candsP.select(col("id_match")).distinct()
              .limit(65537).collect().map(_.getLong(0))
            if (ids.length <= 65536)
              Snapshot.readForKeys(spark, table, "doc_id",
                  ids.map(_.toString).toSeq)
                .select(col("doc_id"), col("vec"))
            else Snapshot.read(spark, table)
              .select(col("doc_id"), col("vec"))
          case None => fresh.select(col("doc_id"), col("vec")).limit(0)
        }
        val matchVecs = corpusVecs
          .unionByName(fresh.select(col("doc_id"), col("vec")))
        val dropIds = candsP
          .join(fresh.select(col("doc_id"),
            col("vec").cast("array<double>").as("va"),
            Similarity.normHoisted(col("vec")).as("na")),
            Seq("doc_id"))
          .join(matchVecs.select(col("doc_id").as("id_match"),
            col("vec").cast("array<double>").as("vb"),
            Similarity.normHoisted(col("vec")).as("nb")),
            Seq("id_match"))
          .filter(round(Similarity.cosineHoisted(col("va"), col("vb"),
            col("na"), col("nb")), 6)
            >= threshold)
          .select(col("doc_id")).distinct()
        // eager checkpoint: emptiness probe + merge each re-ran the
        // point-lookup verify join (r16: the decontaminationStream
        // lesson applied to the vector stream)
        val survivors = hold(fresh.join(dropIds, Seq("doc_id"), "left_anti")
          .withColumn("ingest_batch", lit(batchId))
          .localCheckpoint(true))
        if (!survivors.isEmpty)
          Snapshot.merge(survivors, table, Seq("doc_id"), "doc_id",
            "ingest_batch"): Unit
        Snapshot.latestVersion(table).foreach { v =>
          if (Snapshot.readManifest(table, v).dirs.size >= CompactEvery)
            Snapshot.compactInto(spark, table, lit(batchId),
              targetFiles = CompactEvery, clusterBy = Some("doc_id"))
        }
      }
    }
  }

  /** Streaming entity resolution — the continuous face of
    * [[graft.ops.Text.fuzzyJoinIncrementalSegments]], and the
    * edit-distance sibling of [[dedupStream]]: each micro-batch of
    * (rec_id, name) records resolves against the ACCUMULATED entity
    * snapshot within `maxDist` edits (old×old is never re-paired —
    * per-batch candidate cost tracks the increment, not snapshot
    * age²); records matching no existing entity and no earlier record
    * of their own batch become NEW entities and append via an atomic
    * snapshot merge partitioned by ingest batch. Blocking is the
    * RECALL-COMPLETE segment pigeonhole — an edit anywhere in the
    * name, first character included, still finds its entity (the
    * round-6 single-pass first-char blocking silently duplicated any
    * entity whose probe lost its leading character).
    *
    * Crash replay is idempotent without relying on the checkpoint: a
    * replayed novel record finds its own previously-committed entity
    * at distance 0 and resolves to it instead of duplicating; a
    * replayed matched record re-matches whatever absorbed it before;
    * the merge touches only the replayed batch's own partition.
    *
    * Compaction policy: each merge appends one `ingest_batch` partition
    * directory, so after N batches the entity snapshot is N small
    * files — unbounded over a stream's lifetime. Whenever the manifest
    * holds ≥ `compactEvery` partition directories, the batch collapses
    * them into ONE via [[graft.sources.Snapshot.compactInto]] (re-tag
    * to the current batch id, single dir, single file). Keying the
    * trigger to the DIRECTORY COUNT (not a batch counter) makes it
    * restart-robust: a resumed stream inherits the bound, not a fresh
    * counter. Replay idempotence survives compaction because replayed
    * records re-resolve by content (distance-0 self-match), never by
    * partition lookup. `compactEvery = 0` disables.
    *
    * Retention: compaction bounds the LIVE manifest, but superseded
    * versions keep their data directories for time travel, so DISK
    * usage still tracks stream age. `vacuumKeep > 0` runs
    * [[graft.sources.Snapshot.vacuum]] after each compaction, keeping
    * that many newest versions — the right policy for an
    * infinite-lifetime stream table, where replay safety comes from
    * content matching, never from old versions.
    */
  def erStream(in: DataFrame, table: String, checkpoint: String,
               maxDist: Int = 1, compactEvery: Int = CompactEvery,
               vacuumKeep: Int = 0): Unit = {
    import graft.ops.Text
    import graft.sources.Snapshot
    drain(in, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val fresh = hold(batch.select(col("rec_id"), col("name"))
          .persist())
        val entities = Snapshot.latestVersion(table) match {
          case Some(_) => Snapshot.read(spark, table)
            .select(col("rec_id"), col("name"))
          case None => fresh.limit(0)
        }
        val matched = Text.fuzzyJoinIncrementalSegments(
            entities.withColumnRenamed("rec_id", "id"),
            fresh.withColumnRenamed("rec_id", "id"),
            "id", col("name"), maxDist)
          .select(col("probe_id").as("rec_id")).distinct()
        // eager checkpoint: the emptiness probe, the merge's
        // touched-partition collect AND its upsert all consume the
        // novel set — lazy, each re-ran the whole segment fuzzy join
        // (the decontaminationStream lesson, r16: q324 measured)
        val novel = hold(fresh.join(matched, Seq("rec_id"), "left_anti")
          .withColumn("ingest_batch", lit(batchId))
          .localCheckpoint(true))
        if (!novel.isEmpty)
          Snapshot.merge(novel, table, Seq("rec_id"), "rec_id",
            "ingest_batch"): Unit
        if (compactEvery > 0) Snapshot.latestVersion(table).foreach { v =>
          if (Snapshot.readManifest(table, v).dirs.size >= compactEvery) {
            Snapshot.compactInto(spark, table, lit(batchId))
            if (vacuumKeep > 0) Snapshot.vacuum(table, vacuumKeep)
          }
        }
      }
    }
  }

  /** STREAMING eval-suite decontamination against a FIXED train index
    * — the continuous face of the exact-substring increment contract
    * (q373): each micro-batch of NEW eval documents rank-descends its
    * g-grams against the train suffix array's PERSISTED probe faces
    * ([[graft.ops.SuffixArray.persistProbeIndex]] — built once before
    * the stream starts, never rebuilt mid-stream) and diagonal-chains
    * the hits into exact longest-train-match lengths; per-doc verdicts
    * with a match ≥ g append to `table` through the keyed snapshot
    * merge, so crash-replays of a batch converge on one verdict row
    * per doc. Per-batch cost tracks the BATCH and its grams' train
    * frequencies (the q373 measurement: flat per batch, ~1/8 of a
    * full rebuild), the streaming analog of the q322 banded-index
    * contract at the exact tier. Emits (doc_id, n_tokens,
    * longest_train_match, contaminated_starts, ingest_batch).
    */
  def decontaminationStream(in: DataFrame, indexDir: String,
                            table: String, checkpoint: String,
                            g: Long = 8L): Unit = {
    import graft.ops.{SuffixArray, Text}
    import graft.sources.Snapshot
    // the index is FIXED for the stream's lifetime: load + pin the
    // probe faces ONCE; per-batch snapshot re-reads were the gate's
    // dominant fixed cost (measured, NOTES 123)
    val index = SuffixArray.loadProbeIndex(in.sparkSession, indexDir, g)
    try drain(in, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val docs = hold(batch.select(col("doc_id"), col("text"))
          .persist())
        val m = SuffixArray.decontaminateIncrement(index, docs)
        val nTok = docs.select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"))
        // eager checkpoint: the emptiness probe AND the merge both
        // consume verdicts — without it each re-runs the whole
        // probe/chain cascade (measured 2× per batch)
        val verdicts = hold(m.groupBy(col("doc_id"))
          .agg(max(col("train_match")).as("longest_train_match"),
            sum(when(col("train_match") >= g, lit(1L)).otherwise(lit(0L)))
              .as("contaminated_starts"))
          .filter(col("longest_train_match") >= g)
          .join(nTok, "doc_id")
          .select(col("doc_id"), col("n_tokens"),
            col("longest_train_match"), col("contaminated_starts"))
          .withColumn("ingest_batch", lit(batchId))
          .localCheckpoint(true))
        if (!verdicts.isEmpty)
          Snapshot.merge(verdicts, table, Seq("doc_id"), "doc_id",
            "ingest_batch"): Unit
      }
    }
    finally index.unpersistAll()
  }

  /** STREAMING span EXCISION against a FIXED train index — the
    * [[decontaminationStream]] contract upgraded from verdicts to the
    * REWRITE (q372's cut, incremental): each micro-batch of new
    * documents probes its g-grams against the persisted train suffix
    * array ([[graft.ops.SuffixArray.exciseAgainstIndex]]) and lands
    * one excision row PER BATCH DOC — n_removed, and the clean_fp of
    * the kept tokens — through the keyed snapshot merge (replay-
    * idempotent). The index never rebuilds mid-stream; per-batch cost
    * tracks the batch (log₂ g inner joins, absent windows drop at
    * their first level). Emits (doc_id, n_tokens, n_removed,
    * clean_fp, ingest_batch).
    */
  def excisionStream(in: DataFrame, indexDir: String, table: String,
                     checkpoint: String, g: Long = 8L): Unit = {
    import graft.ops.SuffixArray
    import graft.sources.Snapshot
    val index = SuffixArray.loadProbeIndex(in.sparkSession, indexDir, g)
    try drain(in, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val docs = hold(batch.select(col("doc_id"), col("text"))
          .persist())
        // eager checkpoint: the emptiness probe AND the merge both
        // consume the rewrite (the decontaminationStream lesson)
        val cut = hold(SuffixArray.exciseAgainstIndex(index, docs,
            col("doc_id"), col("text"))
          .withColumn("ingest_batch", lit(batchId))
          .localCheckpoint(true))
        if (!cut.isEmpty)
          Snapshot.merge(cut, table, Seq("doc_id"), "doc_id",
            "ingest_batch"): Unit
      }
    }
    finally index.unpersistAll()
  }

  /** Drive any streaming DataFrame to a parquet sink with AvailableNow:
    * processes everything pending, then stops — the scheduled-batch
    * deployment mode (replaces the reference's GitHub Actions cron with
    * a restartable, checkpointed run).
    */
  def runAvailableNow(out: DataFrame, path: String, checkpoint: String): Unit = {
    val q = out.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", path)
      .start()
    q.awaitTermination()
  }
}
