package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._

/** Query surface + DuckDB oracles: Structured-Streaming pipelines (per-batch cost must track the batch, never the corpus).
  *
  * Split from the SparkEntry monolith (r14 verdict: 22.9k lines,
  * +25% per round) — entries and their oracles move TOGETHER, are
  * aggregated into the driver contract by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]], and EntrySpec pins key parity across
  * the family objects. Shared fixtures/CTE builders stay on
  * [[SparkEntry]] (private[graft]).
  */
private[graft] object EntriesStreaming {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Streaming: the foreachBatch → Snapshot pipeline inside the
    // correctness gate — profileThinStream replays the documents
    // table as an AvailableNow stream through the distribution-match
    // thinning rule into a snapshot table; the oracle computes the
    // batch kept-set (q251's kp algebra) per (source, bin). The
    // stream/batch parity StreamingSpec pins is now also driver-
    // visible: a silent streaming regression fails CORRECTNESS_rN.
    "q309_stream_profile_thin" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val stats = Sampling.profileMatchStats(docs, col("source"),
        col("n_chars"), 32)
      val tmp = gateTempDir("q309")
      docs.select(col("source").as("g"), col("n_chars").as("v"),
          col("doc_id").cast("string").as("k"))
        .write.parquet(tmp + "/in")
      val schema = s.read.parquet(tmp + "/in").schema
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.profileThinStream(
          s.readStream.schema(schema).parquet(tmp + "/in"), stats, 32,
          tmp + "/t", tmp + "/ck")
      }
      graft.sources.Snapshot.read(s, tmp + "/t")
        .groupBy(col("g").as("source"), col("bin"))
        .agg(count(lit(1)).as("n_kept"))
    }),
    // Streaming gate (r11 verdict task 3): the PERSISTENT-LSH-INDEX
    // dedup stream replayed over a DETERMINISTIC two-batch split of
    // the near-dup corpus (evens then odds; the split is part of the
    // query definition, so the oracle replays batch 0's survivors
    // before batch 1). Exercises the whole incremental contract that
    // was spec-only: fresh postings probe the STORED index (history
    // wins at any id order) ∪ earlier-id own-batch postings,
    // candidates verify by exact Jaccard ≥ 0.5 against point-lookup
    // corpus reads, survivors commit per-batch. A regression in
    // banding, index merge, readForKeys pruning, or the keep-first
    // asymmetry now fails CORRECTNESS_rN, not just StreamingSpec.
    "q322_lsh_dedup_stream" -> ((s, dir) => {
      val dd = docsDup(s, dir)
      val tmp = gateTempDir("q322")
      val in = replayBatches(s, Seq(
        dd.filter(col("doc_id") % 2 === 0),
        dd.filter(col("doc_id") % 2 === 1)), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.lshDedupStream(in,
          tmp + "/t", tmp + "/idx", tmp + "/ck", threshold = 0.5,
          bands = 4, rowsPerBand = 4)
      }
      graft.sources.Snapshot.read(s, tmp + "/t")
        .groupBy(col("ingest_batch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"))
    }),
    // Streaming gate (r11 verdict task 3): ENTITY RESOLUTION stream
    // replayed over a deterministic two-batch split — batch 0 the
    // base names, batch 1 one-char-deleted variants. Every variant
    // must resolve to its committed entity (or an earlier-id record
    // of its own batch) within 1 edit and be absorbed; novel records
    // commit per batch. The recall-complete segment blocking, the
    // vsOld/vsNew incremental asymmetry, and the snapshot append all
    // gate here (erStream was spec-only before this).
    "q324_er_stream" -> ((s, dir) => {
      val base = t(s, dir, "part").filter(col("p_partkey") % 4 === 0)
        .select(col("p_partkey").as("rec_id"), col("p_name").as("name"))
      val len = length(col("name"))
      val k = (col("rec_id") % len).cast("int")
      val variants = base.select((col("rec_id") + 2000000000).as("rec_id"),
        concat(col("name").substr(lit(1), k),
          col("name").substr(k + 2, len)).as("name"))
      val tmp = gateTempDir("q324")
      val in = replayBatches(s, Seq(base, variants), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.erStream(in,
          tmp + "/t", tmp + "/ck", maxDist = 1)
      }
      graft.sources.Snapshot.read(s, tmp + "/t")
        .groupBy(col("ingest_batch"))
        .agg(count(lit(1)).as("n_entities"),
          sum(col("rec_id")).cast("long").as("id_sum"))
    }),
    // Streaming gate: EVENT-TIME WATERMARK late-data semantics — the
    // first gate query where the WATERMARK ITSELF decides rows (q309/
    // q322/q324 replay content-idempotent pipelines the watermark
    // never touches). THREE micro-batches split at the time
    // terciles; batch 2 re-delivers every 13th FIRST-TERCILE event
    // as late data. Spark's contract, mirrored µs-exactly by the
    // oracle: late events filter against the PREVIOUS batch's
    // watermark while eviction uses the current one (SPARK-40925 —
    // an empirical find: with only two batches nothing ever drops,
    // because batch 1's late-filter watermark is still 0). So a
    // batch-2 row drops iff its hour-window end ≤ (ms-truncated max
    // batch-0 event time − 72h) — the watermark that was CURRENT
    // during batch 1 — survivors double-count, and the final no-data
    // flush emits exactly the windows whose end ≤ the final
    // watermark.
    "q326_stream_watermark" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("ts"), col("event_type"),
        col("value"), col("event_id"), unix_micros(col("ts")).as("us"))
      val ext = ev.agg(min(col("us")).as("t0"), max(col("us")).as("t3"))
        .select(
          (col("t0") + floor((col("t3") - col("t0")) / 3).cast("long"))
            .as("t1"),
          (col("t0") + floor((col("t3") - col("t0")) * 2 / 3)
            .cast("long")).as("t2"))
      val evm = ev.crossJoin(broadcast(ext))
      val pick = (c: Column) => evm.filter(c)
        .select(col("ts"), col("event_type"), col("value"))
      val b0 = pick(col("us") <= col("t1"))
      val b1 = pick(col("us") > col("t1") && col("us") <= col("t2"))
      val b2 = pick(col("us") > col("t2"))
        .unionByName(pick(col("us") <= col("t1") &&
          col("event_id") % 13 === 0))
      val tmp = gateTempDir("q326")
      val in = replayBatches(s, Seq(b0, b1, b2), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.runAvailableNow(
          graft.streaming.Streams.hourlyRollup(in, watermark = "72 hours"),
          tmp + "/out", tmp + "/ck")
      }
      s.read.parquet(tmp + "/out")
    }),
    // Streaming gate: CRAWL-FRONTIER URL dedup replayed over the
    // even/odd two-batch split — batch 1 URLs whose canonical form the
    // committed frontier already holds are absorbed; within a batch
    // the smallest doc_id per canonical key wins. Canonicalization is
    // the codegen'd q130 chain; the anti-join runs against the
    // frontier SNAPSHOT (urlDedupStream was spec-only).
    "q328_url_dedup_stream" -> ((s, dir) => {
      val du = docUrls(s, dir).select(col("doc_id"), col("url"))
      val tmp = gateTempDir("q328")
      val in = replayBatches(s, Seq(
        du.filter(col("doc_id") % 2 === 0),
        du.filter(col("doc_id") % 2 === 1)), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.urlDedupStream(in, tmp + "/t", tmp + "/ck")
      }
      graft.sources.Snapshot.read(s, tmp + "/t")
        .groupBy(col("ingest_batch"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("doc_id")).cast("long").as("id_sum"))
    }),
    // Streaming gate: HLL REGISTER stream — per-batch registers fold
    // into the running table via the crash-atomic two-rename swap;
    // because per-bucket max is associative+commutative, the final
    // registers (and so the estimate) must equal the single-pass batch
    // sketch, which is exactly what the oracle computes (q56's SQL
    // register machinery). Gates sketchStream's merge + swap protocol
    // end-to-end (was spec-only).
    "q329_sketch_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("event_id"))
      val tmp = gateTempDir("q329")
      val in = replayBatches(s, Seq(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1)), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.sketchStream(in, tmp + "/reg", tmp + "/ck",
          Seq("event_type"), col("user_id"))
      }
      Sketch.hllEstimate(s.read.parquet(tmp + "/reg"),
        Seq("event_type"))
    }),
    // Streaming gate: the CORPUS-GROWING prefix-kernel dedup stream
    // (dedupStream — the recall-COMPLETE sibling of q322's LSH path):
    // because the prefix index is exact, the oracle needs no banding —
    // batch-0 drops are earlier-id own-batch Jaccard ≥ 0.5 matches,
    // batch-1 drops match batch-0 SURVIVORS at any id order or
    // earlier-id own-batch rows.
    "q330_dedup_stream" -> ((s, dir) => {
      // third-corpus subset keyed on the BASE id so each planted
      // near-dup pair survives or drops atomically (q213's audit
      // economics): the gate proves the same incremental contract at
      // ~1/9 the pair-join cost
      val dd = docsDup(s, dir).filter((col("doc_id") % 1000000000) % 3 === 0)
      val tmp = gateTempDir("q330")
      val in = replayBatches(s, Seq(
        dd.filter(col("doc_id") % 2 === 0),
        dd.filter(col("doc_id") % 2 === 1)), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.dedupStream(in,
          tmp + "/t", tmp + "/ck", threshold = 0.5)
      }
      graft.sources.Snapshot.read(s, tmp + "/t")
        .groupBy(col("ingest_batch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"))
    }),
    // Streaming gate: the VECTOR-modality dedup stream over the frozen
    // IVF coarse model (annDedupStream): the first batch's 16
    // lowest-id vectors seed the centroids; candidates are same-cell
    // members of the committed corpus (any id order) ∪ earlier-id
    // own-batch; exact double cosine ≥ 0.99 verifies. The oracle
    // replays the frozen-seed assignment and both batch rounds.
    "q331_ann_dedup_stream" -> ((s, dir) => {
      // base-id-keyed third subset: planted (base, perturbed) pairs
      // stay atomic, same-cell pair cost drops ~9x (q213 economics)
      val vecs = q123Vectors(s, dir)
        .filter((col("id") % 1000000000) % 3 === 0)
        .select(col("id").as("doc_id"),
          transform(col("vec"), _.cast("float")).as("vec"))
      val tmp = gateTempDir("q331")
      val in = replayBatches(s, Seq(
        vecs.filter(col("doc_id") % 2 === 0),
        vecs.filter(col("doc_id") % 2 === 1)), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.annDedupStream(in,
          tmp + "/t", tmp + "/model", tmp + "/ck",
          threshold = 0.9, centroidsK = 16)
      }
      graft.sources.Snapshot.read(s, tmp + "/t")
        .groupBy(col("ingest_batch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"))
    }),
    // Streaming gate: the CORPUS-HYGIENE router — per-batch quality /
    // repetition / contamination scoring against a static benchmark
    // shingle set, first-failing-gate reason taxonomy (V5 order:
    // quality → repetition → contamination), accepts and rejects
    // appended to separate sinks. Routing is per-row, so the batch
    // split cannot change the answer — the gate proves the streamed
    // scoring chain and the reason precedence (hygieneStream was
    // spec-only). minQuality=0.35 puts ~a quarter of the corpus in
    // the low_quality facet so the precedence rule is exercised.
    "q338_hygiene_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val tmp = gateTempDir("q338")
      val in = replayBatches(s, Seq(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1)), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.hygieneStream(in,
          bench, tmp + "/acc", tmp + "/rej", tmp + "/ck",
          minQuality = 0.35)
      }
      s.read.parquet(tmp + "/rej")
        .groupBy(col("reason").as("facet")).agg(count(lit(1)).as("n"))
        .unionByName(s.read.parquet(tmp + "/acc")
          .agg(count(lit(1)).as("n"))
          .select(lit("accepted").as("facet"), col("n")))
    }),
    // Streaming gate: the DISTRIBUTION-DRIFT monitor — per-batch
    // histograms commit to a snapshot keyed by (epoch, content
    // fingerprint) and the CUMULATIVE histogram PSI-scores against a
    // static reference after every batch; one alarm row per batch.
    // The oracle replays both cumulative PSIs and the exact md5-sum
    // batch fingerprints (values ride as cent-integers so the
    // string-cast inside the fingerprint is engine-portable).
    "q339_drift_stream" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        round(col("value") * 100).cast("long").as("v"))
      val ref = ev.filter(col("event_id") % 2 === 0)
        .groupBy(floor(col("v") / 500.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_r"))
      val tmp = gateTempDir("q339")
      val in = replayBatches(s, Seq(
        ev.filter(col("event_id") % 4 === 1).select(col("v")),
        ev.filter(col("event_id") % 4 === 3).select(col("v"))), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.driftStream(in, col("v"), 500.0, ref,
          tmp + "/reg", tmp + "/alarms", tmp + "/ck")
      }
      s.read.parquet(tmp + "/alarms")
    }),
    // Streaming gate: the PLAIN-PARQUET upsert stream (mergeStream →
    // Merge.upsertIntoPath with dynamic partition overwrite — the
    // non-transactional warehouse writer, vs q308/q309's snapshot
    // path): batch 1's version-1 rows overwrite batch 0's committed
    // version-0 rows per (symbol, d) key, touched partitions only.
    "q340_merge_stream" -> ((s, dir) => {
      val uniq = bars(s, dir).filter(col("symbol") % 64 === 6)
        .groupBy(col("symbol"), col("d"))
        .agg(max(struct(col("ord"), col("px"), col("vol"))).as("w"))
        .select(col("symbol"), col("d"),
          col("w.px").as("px"), col("w.vol").as("vol"),
          date_format(col("d"), "yyyy").as("m"))
      val b0 = uniq.withColumn("version", lit(0L))
      val b1 = uniq.filter(col("symbol") % 3 === 0)
        .withColumn("px", col("px") * 2).withColumn("version", lit(1L))
      val tmp = gateTempDir("q340")
      val in = replayBatches(s, Seq(b0, b1), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.mergeStream(in, tmp + "/t", tmp + "/ck",
          Seq("symbol", "d"), "version", "m")
      }
      s.read.parquet(tmp + "/t").groupBy(col("symbol"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("px")), 2).as("px_sum"))
    }),
    // Streaming gate: PER-KEY RUNNING STATE (mapGroupsWithState,
    // NoTimeout) — each micro-batch emits the UPDATED cumulative state
    // for exactly the symbols that received data in it, so the sink
    // holds one row per (batch, active symbol) with counts/max-date/
    // min-close over everything seen SO FAR. Gates custom-state
    // persistence across batches (symbolRunningState was spec-only);
    // all three state fields are order-free (count, max, min), so the
    // unsorted per-group iterator cannot perturb the result.
    "q344_running_state_stream" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val b = bars(s, dir).filter(col("symbol") % 64 === 9)
        .select(col("symbol").cast("string").as("symbol"),
          col("d").as("date"), col("px").as("close"),
          unix_date(col("d")).as("dd"))
      val ext = b.agg(floor((min(col("dd")) + max(col("dd"))) / 2)
        .cast("long").as("mid"))
      val bm = b.crossJoin(broadcast(ext))
      val tmp = gateTempDir("q344")
      val in = replayBatches(s, Seq(
        bm.filter(col("dd") <= col("mid"))
          .select(col("symbol"), col("date"), col("close")),
        bm.filter(col("dd") > col("mid"))
          .select(col("symbol"), col("date"), col("close"))), tmp)
      val states = graft.streaming.Streams.symbolRunningState(
        in.as[graft.streaming.Streams.BarEvent](
          org.apache.spark.sql.Encoders.product[
            graft.streaming.Streams.BarEvent]))
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.drain(states.toDF(), tmp + "/ck",
            OutputMode.Update) { (batch, _) =>
          batch.write.mode("append").parquet(tmp + "/out")
        }
      }
      s.read.parquet(tmp + "/out")
        .groupBy(col("symbol").cast("long").as("symbol"))
        .agg(count(lit(1)).as("n_updates"),
          max(col("nRows")).as("n_rows_final"),
          max(col("lastDate")).cast("string").as("last_date"),
          round(min(col("minClose")), 2).as("min_close"))
    }),
    // Streaming gate: STREAM-STREAM INTERVAL JOIN — both sides replay
    // as midpoint-aligned two-batch file streams; with in-order data
    // the inner interval join's state retention (derived by Spark from
    // the join bounds + watermark) must find EVERY cross-batch pair,
    // so the streamed result equals the batch join (q48's shape on its
    // own slice), which is what the oracle computes.
    "q346_stream_interval_join" -> ((s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id") % 16 === 0)
        .select(col("user_id"), col("ts"), col("value"),
          unix_micros(col("ts")).as("us"))
      val ext = e.agg(floor((min(col("us")) + max(col("us"))) / 2)
        .cast("long").as("mid"))
      val em = e.crossJoin(broadcast(ext))
      val tmp = gateTempDir("q346")
      val l = replayBatches(s, Seq(
        em.filter(col("us") <= col("mid"))
          .select(col("user_id"), col("ts").as("lts")),
        em.filter(col("us") > col("mid"))
          .select(col("user_id"), col("ts").as("lts"))), tmp + "/L")
      val r = replayBatches(s, Seq(
        em.filter(col("us") <= col("mid"))
          .select(col("user_id"), col("ts").as("rts"), col("value")),
        em.filter(col("us") > col("mid"))
          .select(col("user_id"), col("ts").as("rts"), col("value"))),
        tmp + "/R")
      val joined = graft.streaming.Streams.intervalJoin(l, r, "user_id",
          "lts", "rts", watermark = "0 seconds", within = "10 minutes")
        .filter(col("rts") < col("lts"))
        .select(col("l.user_id").as("user_id"), col("value"))
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.runAvailableNow(joined,
          tmp + "/out", tmp + "/ck")
      }
      s.read.parquet(tmp + "/out").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("value")), 2).as("pred_value_sum"))
    }),
    // Streaming gate: BUILT-IN SESSION WINDOWS with a watermark —
    // sessions merge across the two batches in state and emit once the
    // watermark passes the session end (last event + gap), so the
    // output is the q43 gaps-and-islands session set FILTERED to
    // sessions ending at or below the final watermark (ms-truncated
    // max event time) — the still-open tail stays in state forever.
    "q347_stream_session_windows" -> ((s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id") % 4 === 1)
        .select(col("user_id"), col("ts"), col("value"),
          unix_micros(col("ts")).as("us"))
      val ext = e.agg(floor((min(col("us")) + max(col("us"))) / 2)
        .cast("long").as("mid"))
      val em = e.crossJoin(broadcast(ext))
      val tmp = gateTempDir("q347")
      val in = replayBatches(s, Seq(
        em.filter(col("us") <= col("mid"))
          .select(col("user_id"), col("ts"), col("value")),
        em.filter(col("us") > col("mid"))
          .select(col("user_id"), col("ts"), col("value"))), tmp)
      val sess = graft.streaming.Streams.sessionRollup(in,
        "user_id", "30 minutes",
        watermark = Some("0 seconds"))
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.runAvailableNow(sess,
          tmp + "/out", tmp + "/ck")
      }
      s.read.parquet(tmp + "/out").select(
        unix_timestamp(col("session_start")).as("s_start"),
        unix_timestamp(col("session_end")).as("s_end"),
        col("user_id"), col("n"), col("value_sum"))
    }),
    // Streaming gate: WATERMARKED EXACTLY-ONCE KEY DEDUP — batch 1
    // re-delivers every 13th batch-0 event byte-identically; the
    // (event_id, ts) state must absorb all of them (the keys are still
    // live: eviction uses the current watermark, and re-deliveries
    // arrive one batch after the originals), so the output equals the
    // plain one-copy aggregate.
    "q348_stream_dedup_keys" -> ((s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id") % 4 === 2)
        .select(col("event_id"), col("ts"), col("user_id"),
          round(col("value")).as("value"),
          unix_micros(col("ts")).as("us"))
      val ext = e.agg(floor((min(col("us")) + max(col("us"))) / 2)
        .cast("long").as("mid"))
      val em = e.crossJoin(broadcast(ext))
      val pick = (c: Column) => em.filter(c)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val tmp = gateTempDir("q348")
      val in = replayBatches(s, Seq(
        pick(col("us") <= col("mid")),
        pick(col("us") > col("mid"))
          .unionByName(pick(col("us") <= col("mid") &&
            col("event_id") % 13 === 0))), tmp)
      val deduped = graft.streaming.Streams.dedupByKey(in,
        "ts", "0 seconds", Seq("event_id"))
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.runAvailableNow(deduped,
          tmp + "/out", tmp + "/ck")
      }
      s.read.parquet(tmp + "/out")
        .groupBy((col("user_id") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value")).cast("long").as("value_sum"))
    }),
    // Streaming gate: ANN dedup model REFRESH (the k-chooser's
    // streaming half — annDedupStream froze its first-batch centroids
    // forever, the r12 verdict's one live scale defect). Three batches
    // sized so the trigger fires exactly once: batch 0 (8 vecs) seeds
    // k = chooseK(8) = 4; batch 1 (192) grows the corpus past the
    // refreshFactor=2 bound; before batch 2 the model retrains to
    // chooseK(|corpus|) lowest-id corpus vectors and the stored cells
    // re-assign in one clustered rewrite; batch 2 (the rest + planted
    // +1e9 near-dup twins of batch-1 members) dedups against the
    // REFRESHED cells. The oracle replays seed, trigger arithmetic,
    // refresh, and all three candidate rounds; the -1 facet pins the
    // refreshed model itself (k and centroid-id sum).
    "q353_ann_refresh_stream" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<float>").as("vec"))
      val twins = vecs.filter(col("doc_id") >= 8 && col("doc_id") < 200)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          transform(col("vec"), (x, i) =>
            when(i === 0, (x.cast("double") + 0.5).cast("float"))
              .otherwise(x)).as("vec"))
      val tmp = gateTempDir("q353")
      val in = replayBatches(s, Seq(
        vecs.filter(col("doc_id") < 8),
        vecs.filter(col("doc_id") >= 8 && col("doc_id") < 200),
        vecs.filter(col("doc_id") >= 200).unionByName(twins)), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.annDedupStream(in,
          tmp + "/t", tmp + "/model", tmp + "/ck",
          threshold = 0.9, refreshFactor = 2.0)
      }
      graft.sources.Snapshot.read(s, tmp + "/t")
        .groupBy(col("ingest_batch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .unionByName(graft.sources.Snapshot.read(s, tmp + "/model")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("cid")).cast("long").as("id_sum"))
          .select(lit(-1L).as("ingest_batch"), col("n_docs"),
            col("id_sum")))
    }),
    // Streaming gate: WRITE–AUDIT–PUBLISH per micro-batch — batch 2
    // carries the planted bad rows and vanishes WHOLE (its candidate
    // stages, audits dirty through the staged read face, discards);
    // batches 1/3 publish atomically as versions 1/2. Main readers
    // never see an unaudited row; every emitted count is fixture
    // arithmetic.
    "q370_wap_stream" -> ((s, dir) => {
      import graft.sources.Snapshot
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      val bad = col("doc_id") % 10 === 1
      val tmp = gateTempDir("q370")
      val tbl = tmp + "/t"
      val in = replayBatches(s, Seq(
        docs.filter(col("doc_id") % 3 === 0 && !bad),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2 && !bad)), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.wapStream(in, tbl, tmp + "/ck", bad)
      }
      Snapshot.read(s, tbl)
        .agg(count(lit(1)).as("published_rows"),
          sum(when(bad, lit(1L)).otherwise(lit(0L)))
            .as("published_bad"))
        .select(col("published_rows"), col("published_bad"),
          lit(Snapshot.latestVersion(tbl).getOrElse(0L)).as("versions"),
          lit(Snapshot.stagedNames(tbl).size.toLong).as("staged_left"))
    }),
    // Streaming gate: PREFERENCE-DUEL ingestion — the q415 duels
    // split into two micro-batches, per-batch partial matrices
    // batch-keyed (replay-idempotent overwrite), ratings from the
    // accumulated matrix ≡ the corpus-at-once MM arithmetic.
    "q419_preference_stream" -> ((s, dir) => {
      import graft.streaming.Streams
      val duels = duelFixture(s, dir)
      val tmp = gateTempDir("q419")
      val in = replayBatches(s, Seq(
        duels.filter(col("event_id") % 2 === 0)
          .select(col("winner"), col("loser")),
        duels.filter(col("event_id") % 2 === 1)
          .select(col("winner"), col("loser"))), tmp)
      withShufflePartitions(s, 8) {
        Streams.preferenceStream(in,
          col("winner"), col("loser"), tmp + "/matrix", tmp + "/ck")
      }
      Streams.streamedRatings(s, tmp + "/matrix", 3)
    }),
    // Streaming gate: DP-LEDGER ingestion (16th pipeline) — the
    // q495 (ε, δ) charges split into two micro-batches of additive
    // (analyst, part) partials; the accountant over the accumulated
    // ledger must equal the corpus-at-once composition the shared
    // oracle replays.
    "q510_dp_stream" -> ((s, dir) => {
      import graft.streaming.Streams
      import graft.ops.Dedup.hashLong
      def h(tag: String, m: Long): Column =
        pmod(hashLong(concat(lit(tag),
          col("event_id").cast("string"))), lit(m))
      val ledger = t(s, dir, "events").select(
        col("event_id"),
        concat(lit("a"), (col("user_id") % 7).cast("string"))
          .as("an"),
        (col("event_id") % 12).as("pt"),
        (lit(1000L) + h("dp", 9000L)).as("e"),
        h("dd", 1000L).as("d"))
      val tmp = gateTempDir("q510")
      val in = replayBatches(s, Seq(
        ledger.filter(col("event_id") % 2 === 0),
        ledger.filter(col("event_id") % 2 === 1)), tmp)
      withShufflePartitions(s, 8) {
        Streams.dpLedgerStream(in,
          col("an"), col("pt"), col("e"), col("d"),
          tmp + "/ledger", tmp + "/ck")
      }
      Streams.streamedDpAccountant(s, tmp + "/ledger",
        8000000L, 800000L)
    }),
    // Streaming gate: CONFORMAL CALIBRATION ingestion (15th
    // pipeline) — the q484 calibration half streamed as THREE
    // micro-batches of additive (grp, score, c) histogram partials
    // (batch-keyed overwrite = replay-idempotent); thresholds from
    // the accumulated running counts must equal the corpus-at-once
    // rank formulation the shared oracle replays.
    "q496_conformal_stream" -> ((s, dir) => {
      import graft.streaming.Streams
      import graft.ops.Dedup.hashLong
      val scored = t(s, dir, "documents").select(
        col("lang").as("grp"), col("doc_id"),
        pmod(hashLong(concat(lit("cp"),
          col("doc_id").cast("string"))), lit(1000000L)).as("score"))
      val cal = scored.filter(col("doc_id") % 2 === 0)
        .select(col("grp"), col("doc_id"), col("score"))
      val tmp = gateTempDir("q496")
      val in = replayBatches(s, Seq(
        cal.filter(col("doc_id") % 6 === 0),
        cal.filter(col("doc_id") % 6 === 2),
        cal.filter(col("doc_id") % 6 === 4)), tmp)
      withShufflePartitions(s, 8) {
        Streams.conformalStream(in,
          col("grp"), col("score"), tmp + "/cal", tmp + "/ck")
      }
      Streams.streamedConformal(s, tmp + "/cal",
        scored.filter(col("doc_id") % 2 =!= 0)
          .select(col("grp"), col("score")),
        Seq(10, 5, 1))
    }),
    // Streaming gate: ERASURE PROPAGATION (14th pipeline) — erasure
    // requests in two micro-batches, one DV version each, zero data
    // rewrite; content converges, history retains until expiry.
    "q451_erasure_stream" -> ((s, dir) => {
      import graft.sources.Snapshot
      import graft.streaming.Streams
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      val erased = col("doc_id") % 13 === 0
      val tmp = gateTempDir("q451")
      val tbl = tmp + "/t"
      Snapshot.commit(docs, tbl)
      val reqs = docs.filter(erased).select(col("doc_id"))
      val in = replayBatches(s, Seq(
        reqs.filter(col("doc_id") % 26 === 0),
        reqs.filter(col("doc_id") % 26 =!= 0)), tmp)
      withShufflePartitions(s, 8) {
        Streams.erasureStream(in,
          tbl, "doc_id", tmp + "/ck")
      }
      val rows = Snapshot.read(s, tbl).count()
      val matching = Snapshot.read(s, tbl).filter(erased).count()
      val a = Snapshot.erasureAudit(s, tbl, erased)
        .select(col("head_clean"), col("retained_versions")).head()
      s.range(1).select(lit(rows).as("rows_after"),
        lit(matching).as("matching_after"),
        lit(Snapshot.versions(tbl).size.toLong).as("n_versions"),
        lit(a.getBoolean(0)).as("head_clean"),
        lit(a.getLong(1)).as("retained_versions"))
    }),
    // Streaming gate: the DSIR QUALITY ROUTER — the frozen bucket→λ
    // model (fit once on the full corpus, English as target) scores
    // each micro-batch and routes keep/drop at weight 0. Frozen model
    // ⇒ the final routing is batch-order-independent, so the oracle
    // replays it corpus-at-once.
    "q408_dsir_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val model = Sampling.dsirModel(docs, col("doc_id"), col("text"),
        col("lang") === "en", 4096)
      val tmp = gateTempDir("q408")
      val in = replayBatches(s, Seq(
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text")),
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"))), tmp)
      withShufflePartitions(s, 8) {
        graft.streaming.Streams.dsirStream(in,
          model, 4096, tmp + "/keep", tmp + "/drop", tmp + "/ck", 0L)
      }
      def side(path: String, name: String) =
        s.read.parquet(path)
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("w_micro")), lit(0L)).as("sum_w"))
          .select(lit(name).as("route"), col("n"), col("sum_w"))
      side(tmp + "/keep", "keep").unionByName(side(tmp + "/drop", "drop"))
    }),
    // Streaming gate: CONTINUOUS decontamination against a FIXED
    // train index — q373's increment contract as a stream: the train
    // SA probe faces persist once, then three micro-batches of
    // planted near-copies (1-in-10 of train, id lanes by batch) each
    // rank-descend + diagonal-chain and MERGE their per-doc verdicts
    // (replay-idempotent by key). The index never rebuilds mid-stream;
    // per-batch cost tracks the batch. The oracle rebuilds the full
    // combined SA — the stream must land exactly the batch-rebuild
    // truth.
    "q380_decontamination_stream" -> ((s, dir) => {
      val train = t(s, dir, "documents").filter(col("doc_id") % 24 === 0)
        .select(col("doc_id"), col("text"))
      def inc(b: Int): DataFrame = train
        .filter(col("doc_id") % 240 === b * 120)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          concat(col("text"), lit(" zz9 qq8")).as("text"))
      val tmp = gateTempDir("q380")
      val idx = tmp + "/sa_index"
      withShufflePartitions(s, 8) {
        val c = SuffixArray.corpus(train, col("doc_id"), col("text"))
        val b = SuffixArray.buildTo(c, 8L)
        SuffixArray.persistProbeIndex(c, b, idx, 8L)
        val in = replayBatches(s, Seq(inc(0), inc(1)), tmp)
        graft.streaming.Streams.decontaminationStream(in,
          idx, tmp + "/t", tmp + "/ck", 8L)
      }
      graft.sources.Snapshot.read(s, tmp + "/t")
        .select(col("doc_id"), col("n_tokens"),
          col("longest_train_match"), col("contaminated_starts"),
          col("ingest_batch"))
    }),

    // Streaming gate: SPAN EXCISION against the FIXED train index —
    // q372's rewrite made incremental (the last batch-only member of
    // the exact tier): two micro-batches of planted near-copies each
    // probe their 8-grams against the persisted train SA and MERGE
    // per-doc excision rows (n_removed + clean_fp of the kept
    // tokens). The oracle brute-forces the train 8-gram set and the
    // interval union — two unrelated algorithms must agree on every
    // byte of every rewritten doc.
    "q480_excision_stream" -> ((s, dir) => {
      val train = t(s, dir, "documents").filter(col("doc_id") % 24 === 0)
        .select(col("doc_id"), col("text"))
      def inc(b: Int): DataFrame = train
        .filter(col("doc_id") % 240 === b * 120)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          concat(col("text"), lit(" zz9 qq8")).as("text"))
      val tmp = gateTempDir("q480")
      val idx = tmp + "/sa_index"
      withShufflePartitions(s, 8) {
        val c = SuffixArray.corpus(train, col("doc_id"), col("text"))
        val b = SuffixArray.buildTo(c, 8L)
        SuffixArray.persistProbeIndex(c, b, idx, 8L)
        val in = replayBatches(s, Seq(inc(0), inc(1)), tmp)
        graft.streaming.Streams.excisionStream(in,
          idx, tmp + "/t", tmp + "/ck", 8L)
      }
      graft.sources.Snapshot.read(s, tmp + "/t")
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          col("clean_fp"), col("ingest_batch"))
    })
  )

  val oracleSql: Map[String, String] = Map(

    // The streamed thinning's survivors per cell = q251's kp algebra
    // (same integer cross-multiply draw, same md5 row key).
    "q309_stream_profile_thin" ->
      s"""WITH r AS (SELECT source AS g, n_chars AS v,
         |    CAST(doc_id AS VARCHAR) AS k FROM documents),
         |ext AS (SELECT min(v) AS vmin,
         |    (max(v) - min(v)) // 32 + 1 AS w FROM r),
         |b AS (SELECT g, k, (v - vmin) // w AS bin
         |  FROM r CROSS JOIN ext),
         |gb AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS n_gb
         |  FROM b GROUP BY 1, 2),
         |bt AS (SELECT bin, CAST(sum(n_gb) AS BIGINT) AS n_b
         |  FROM gb GROUP BY 1),
         |gs AS (SELECT g, CAST(sum(n_gb) AS BIGINT) AS n_g
         |  FROM gb GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_tot FROM gs),
         |st AS (SELECT g, bin,
         |    CAST(1000000 AS HUGEINT) * n_b * n_g AS num,
         |    CAST(n_tot AS HUGEINT) * n_gb AS den
         |  FROM gb JOIN bt USING (bin) JOIN gs USING (g)
         |  CROSS JOIN tot)
         |SELECT b.g AS source, CAST(b.bin AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_kept
         |FROM b JOIN st ON st.g = b.g AND st.bin = b.bin
         |WHERE CAST(${h60("'dm' || k")} % 1000000 AS HUGEINT) * den
         |  < num
         |GROUP BY 1, 2""".stripMargin,
    // The streaming LSH-index dedup replayed batch-by-batch in SQL:
    // batch 0 (evens) drops vs earlier-id own-batch band collisions,
    // batch 1 (odds) drops vs batch-0 SURVIVORS (any id order — the
    // stored-index postings) ∪ earlier-id own-batch, both verified by
    // the q27 exact-Jaccard round ≥ 0.5 rule on the same 4×4 banding.
    "q322_lsh_dedup_stream" -> {
      val bandEq =
        """(a.sig[1:4] = b.sig[1:4] OR a.sig[5:8] = b.sig[5:8]
          |    OR a.sig[9:12] = b.sig[9:12]
          |    OR a.sig[13:16] = b.sig[13:16])""".stripMargin
      val jacGe =
        """round(len(list_intersect(a.sh, b.sh)) * 1.0 /
          |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
          |    4) >= 0.5""".stripMargin
      s"""WITH u AS ($docsDupSql),
         |tk AS (SELECT doc_id, $tokSql AS tk FROM u),
         |sh AS (SELECT doc_id, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END AS sh
         |  FROM tk),
         |sig AS (SELECT doc_id, doc_id % 2 AS bt, sh,
         |    ${minhashSql(16)} AS sig FROM sh),
         |p0 AS (SELECT DISTINCT a.doc_id FROM sig a JOIN sig b
         |  ON a.bt = 0 AND b.bt = 0 AND a.doc_id > b.doc_id
         |  AND $bandEq
         |  WHERE $jacGe),
         |s0 AS (SELECT * FROM sig WHERE bt = 0
         |  AND doc_id NOT IN (SELECT doc_id FROM p0)),
         |cand1 AS (SELECT doc_id, sh, sig, FALSE AS isnew FROM s0
         |  UNION ALL SELECT doc_id, sh, sig, TRUE FROM sig
         |  WHERE bt = 1),
         |p1 AS (SELECT DISTINCT a.doc_id FROM sig a JOIN cand1 b
         |  ON a.bt = 1 AND a.doc_id <> b.doc_id
         |  AND (NOT b.isnew OR a.doc_id > b.doc_id)
         |  AND $bandEq
         |  WHERE $jacGe),
         |s1 AS (SELECT * FROM sig WHERE bt = 1
         |  AND doc_id NOT IN (SELECT doc_id FROM p1))
         |SELECT CAST(0 AS BIGINT) AS ingest_batch,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum FROM s0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
         |  CAST(sum(doc_id) AS BIGINT) FROM s1""".stripMargin
    },
    // The ER stream replayed batch-by-batch: batch 0 keeps the
    // smallest-id representative of every ≤1-edit family, batch 1
    // records match batch-0 SURVIVORS or earlier-id own-batch records
    // (q102's variant construction, q324's incremental rule).
    "q324_er_stream" ->
      """WITH b0 AS (SELECT p_partkey AS rec_id, p_name AS name
        |  FROM part WHERE p_partkey % 4 = 0),
        |b1 AS (SELECT rec_id + 2000000000 AS rec_id,
        |    substr(name, 1, CAST(rec_id % length(name) AS INT))
        |      || substr(name, CAST(rec_id % length(name) AS INT) + 2)
        |      AS name
        |  FROM b0),
        |m0 AS (SELECT DISTINCT a.rec_id FROM b0 a JOIN b0 s
        |  ON s.rec_id < a.rec_id
        |  AND levenshtein(a.name, s.name) <= 1),
        |n0 AS (SELECT * FROM b0
        |  WHERE rec_id NOT IN (SELECT rec_id FROM m0)),
        |m1 AS (SELECT DISTINCT a.rec_id FROM b1 a
        |  WHERE EXISTS (SELECT 1 FROM n0 e
        |      WHERE levenshtein(a.name, e.name) <= 1)
        |    OR EXISTS (SELECT 1 FROM b1 s
        |      WHERE s.rec_id < a.rec_id
        |        AND levenshtein(a.name, s.name) <= 1)),
        |n1 AS (SELECT * FROM b1
        |  WHERE rec_id NOT IN (SELECT rec_id FROM m1))
        |SELECT CAST(0 AS BIGINT) AS ingest_batch,
        |  CAST(count(*) AS BIGINT) AS n_entities,
        |  CAST(sum(rec_id) AS BIGINT) AS id_sum FROM n0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(rec_id) AS BIGINT) FROM n1""".stripMargin,
    // Spark's watermark algebra µs-exact: batch-2 rows drop iff their
    // hour-window end ≤ the watermark that was CURRENT during batch 1
    // = (ms-truncated max batch-0 event time − 72h)·1000 (late filter
    // lags eviction by one batch, SPARK-40925); windows emit iff end
    // ≤ the final watermark.
    "q326_stream_watermark" ->
      """WITH ev AS (SELECT ts, event_type, value, event_id,
        |    epoch_us(ts) AS us FROM events),
        |ext AS (SELECT
        |    min(us) + CAST(floor((max(us) - min(us)) / 3) AS BIGINT)
        |      AS t1,
        |    min(us) + CAST(floor((max(us) - min(us)) * 2 / 3)
        |      AS BIGINT) AS t2,
        |    max(us) AS gmax FROM ev),
        |b0 AS (SELECT ts, event_type, value, us FROM ev
        |  CROSS JOIN ext WHERE us <= t1),
        |w1 AS (SELECT (max(us) // 1000 - 259200000) * 1000 AS wm1
        |  FROM b0),
        |wf AS (SELECT (gmax // 1000 - 259200000) * 1000 AS wmf
        |  FROM ext),
        |b1 AS (SELECT ts, event_type, value FROM ev CROSS JOIN ext
        |  WHERE us > t1 AND us <= t2),
        |b2 AS (SELECT ts, event_type, value FROM ev CROSS JOIN ext
        |    WHERE us > t2
        |  UNION ALL SELECT ts, event_type, value FROM ev CROSS JOIN ext
        |    WHERE us <= t1 AND event_id % 13 = 0),
        |acc AS (SELECT ts, event_type, value FROM b0
        |  UNION ALL SELECT ts, event_type, value FROM b1
        |  UNION ALL SELECT b2.ts, b2.event_type, b2.value
        |  FROM b2 CROSS JOIN w1
        |  WHERE epoch_us(date_trunc('hour', b2.ts) + INTERVAL 1 HOUR)
        |    > wm1),
        |agg AS (SELECT date_trunc('hour', ts) AS hour_start,
        |    event_type, CAST(count(*) AS BIGINT) AS n,
        |    round(sum(value), 2) AS value_sum
        |  FROM acc GROUP BY 1, 2)
        |SELECT hour_start, event_type, n, value_sum
        |FROM agg CROSS JOIN wf
        |WHERE epoch_us(hour_start + INTERVAL 1 HOUR) <= wmf"""
        .stripMargin,
    // The frontier replay: smallest doc_id per canonical key within a
    // batch, batch-1 keys already in batch 0's committed frontier are
    // absorbed.
    "q328_url_dedup_stream" -> {
      s"""WITH ${urlChainSql("a",
              s"""SELECT doc_id, text,
                 |    ${urlSql("doc_id", "source")} AS url
                 |  FROM documents""".stripMargin)},
         |b0 AS (SELECT canonical_url, CAST(min(doc_id) AS BIGINT)
         |    AS doc_id
         |  FROM acu WHERE doc_id % 2 = 0 GROUP BY 1),
         |b1 AS (SELECT canonical_url, CAST(min(doc_id) AS BIGINT)
         |    AS doc_id
         |  FROM acu WHERE doc_id % 2 = 1 GROUP BY 1),
         |n1 AS (SELECT * FROM b1 WHERE canonical_url NOT IN
         |  (SELECT canonical_url FROM b0))
         |SELECT CAST(0 AS BIGINT) AS ingest_batch,
         |  CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum FROM b0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
         |  CAST(sum(doc_id) AS BIGINT) FROM n1""".stripMargin
    },
    // Max is associative+commutative, so the streamed per-batch
    // register folds equal the single-pass batch sketch — q56's exact
    // SQL register machinery over (event_type, user_id).
    "q329_sketch_stream" ->
      s"""WITH h AS (SELECT event_type,
         |    md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
         |parts AS (SELECT event_type, hx, substr(hx, 4, 29) AS rest,
         |    ltrim(substr(hx, 4, 29), '0') AS st FROM h),
         |reg AS (SELECT event_type,
         |    CAST('0x' || substr(hx, 1, 3) AS BIGINT) AS bucket,
         |    max(CASE WHEN length(st) = 0 THEN 117
         |        ELSE (length(rest) - length(st)) * 4 +
         |          (CASE WHEN substr(st, 1, 1) = '1' THEN 3
         |                WHEN substr(st, 1, 1) IN ('2','3') THEN 2
         |                WHEN substr(st, 1, 1) IN ('4','5','6','7')
         |                  THEN 1
         |                ELSE 0 END) + 1 END) AS rho
         |  FROM parts GROUP BY 1, 2),
         |${hllEstSql("reg", "event_type", "est")}
         |SELECT event_type, est AS n_approx FROM est""".stripMargin,
    // Recall-complete prefix kernel ⇒ the oracle is the bare Jaccard
    // predicate: batch-0 drops vs earlier-id own-batch, batch-1 drops
    // vs batch-0 survivors (any id order) ∪ earlier-id own-batch.
    "q330_dedup_stream" -> {
      val jacGe =
        """round(len(list_intersect(a.sh, b.sh)) * 1.0 /
          |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
          |    4) >= 0.5""".stripMargin
      s"""WITH u AS (SELECT * FROM ($docsDupSql)
         |  WHERE (doc_id % 1000000000) % 3 = 0),
         |tk AS (SELECT doc_id, $tokSql AS tk FROM u),
         |shl AS (SELECT doc_id, doc_id % 2 AS bt,
         |    CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
         |      ELSE $shingleSql END AS sh FROM tk),
         |p0 AS (SELECT DISTINCT a.doc_id FROM shl a JOIN shl b
         |  ON a.bt = 0 AND b.bt = 0 AND a.doc_id > b.doc_id
         |  WHERE $jacGe),
         |s0 AS (SELECT * FROM shl WHERE bt = 0
         |  AND doc_id NOT IN (SELECT doc_id FROM p0)),
         |cand1 AS (SELECT doc_id, sh, FALSE AS isnew FROM s0
         |  UNION ALL SELECT doc_id, sh, TRUE FROM shl WHERE bt = 1),
         |p1 AS (SELECT DISTINCT a.doc_id FROM shl a JOIN cand1 b
         |  ON a.bt = 1 AND a.doc_id <> b.doc_id
         |  AND (NOT b.isnew OR a.doc_id > b.doc_id)
         |  WHERE $jacGe),
         |s1 AS (SELECT * FROM shl WHERE bt = 1
         |  AND doc_id NOT IN (SELECT doc_id FROM p1))
         |SELECT CAST(0 AS BIGINT) AS ingest_batch,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum FROM s0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
         |  CAST(sum(doc_id) AS BIGINT) FROM s1""".stripMargin
    },
    // Frozen-seed IVF assignment (16 lowest EVEN ids — batch 0 seeds
    // the model), same-cell candidates with the incremental id-order
    // rule, exact double cosine ≥ 0.9 round 6.
    "q331_ann_dedup_stream" -> {
      val cell =
        s"""SELECT v.id, v.vec, ct.cid AS cell,
           |    row_number() OVER (PARTITION BY v.id
           |      ORDER BY round(${sqdSql("v.vec", "ct.cvec")}, 6),
           |        ct.cid) AS pr
           |  FROM e v CROSS JOIN ct""".stripMargin
      s"""WITH e AS (SELECT * FROM (
         |  SELECT vec_id AS id, embedding AS vec FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000000 AS id,
         |    [CASE WHEN i = 1
         |       THEN CAST(CAST(embedding[i] AS DOUBLE) + 0.5 AS FLOAT)
         |       ELSE embedding[i] END
         |     for i in range(1, len(embedding) + 1)] AS vec
         |  FROM embeddings) WHERE (id % 1000000000) % 3 = 0),
         |ct AS (SELECT id AS cid, vec AS cvec FROM e
         |  WHERE id % 2 = 0 ORDER BY id LIMIT 16),
         |asg AS (SELECT id, vec, cell FROM ($cell) WHERE pr = 1),
         |p0 AS (SELECT DISTINCT a.id FROM asg a JOIN asg b
         |  ON a.id % 2 = 0 AND b.id % 2 = 0 AND a.cell = b.cell
         |  AND a.id > b.id
         |  WHERE round(${cosSql("a.vec", "b.vec")}, 6) >= 0.9),
         |s0 AS (SELECT * FROM asg WHERE id % 2 = 0
         |  AND id NOT IN (SELECT id FROM p0)),
         |cand1 AS (SELECT id, vec, cell, FALSE AS isnew FROM s0
         |  UNION ALL SELECT id, vec, cell, TRUE FROM asg
         |  WHERE id % 2 = 1),
         |p1 AS (SELECT DISTINCT a.id FROM asg a JOIN cand1 b
         |  ON a.id % 2 = 1 AND a.cell = b.cell AND a.id <> b.id
         |  AND (NOT b.isnew OR a.id > b.id)
         |  WHERE round(${cosSql("a.vec", "b.vec")}, 6) >= 0.9),
         |s1 AS (SELECT * FROM asg WHERE id % 2 = 1
         |  AND id NOT IN (SELECT id FROM p1))
         |SELECT CAST(0 AS BIGINT) AS ingest_batch,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(id) AS BIGINT) AS id_sum FROM s0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
         |  CAST(sum(id) AS BIGINT) FROM s1""".stripMargin
    },
    // Routing is per-row: first failing gate wins in the q24/q71/q70
    // expression algebra; batch split can't change the answer.
    "q338_hygiene_stream" ->
      s"""WITH tkd AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |sc AS (SELECT doc_id,
         |    CAST(round(CAST(0.4 * least(1.0, len(tk) / 100.0)
         |      + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0
         |          ELSE len(list_filter(tk,
         |            t -> t IN ('the','a','of','to','and'))) * 1.0
         |            / len(tk) END)
         |      + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0
         |          ELSE len(list_distinct(tk)) * 1.0 / len(tk) END)
         |      AS DECIMAL(20,10)), 4) AS DOUBLE) AS quality,
         |    CASE WHEN len(tk) < 3 THEN 0.0
         |      ELSE CAST(round(CAST(CAST(1.0 AS DOUBLE)
         |        - CAST(len(list_distinct(
         |            [array_to_string(tk[i:i+2], ' ')
         |             for i in range(1, len(tk) - 1)])) AS DOUBLE)
         |          / (len(tk) - 2) AS DECIMAL(20,10)), 4) AS DOUBLE)
         |    END AS repetition
         |  FROM tkd),
         |shq AS (SELECT doc_id, unnest($shingleSql) AS s FROM tkd),
         |bench AS (SELECT DISTINCT s FROM shq WHERE doc_id % 10 = 0),
         |shared AS (SELECT doc_id, CAST(count(*) AS BIGINT)
         |    AS n_shared
         |  FROM shq JOIN bench USING (s) GROUP BY 1),
         |r AS (SELECT sc.doc_id,
         |    CASE WHEN quality < 0.35 THEN 'low_quality'
         |      WHEN repetition > 0.5 THEN 'repetitive'
         |      WHEN coalesce(n_shared, 0) > 0 THEN 'contaminated'
         |      END AS reason
         |  FROM sc LEFT JOIN shared USING (doc_id))
         |SELECT reason AS facet, CAST(count(*) AS BIGINT) AS n
         |FROM r WHERE reason IS NOT NULL GROUP BY 1
         |UNION ALL
         |SELECT 'accepted', CAST(count(*) AS BIGINT)
         |FROM r WHERE reason IS NULL""".stripMargin,
    // Two cumulative PSIs (q90's ×1e6 term snap) + the exact md5-sum
    // batch fingerprints over cent-integer value strings.
    "q339_drift_stream" -> {
      def fpSql(pred: String): String =
        s"""'_' || CAST(CAST(sum(CAST(${h60("CAST(v AS VARCHAR)")}
           |  AS HUGEINT)) % 1152921504606846976 AS BIGINT) AS VARCHAR)"""
          .stripMargin
      def psiSql(curCte: String, out: String): String =
        s"""${out}tc AS (SELECT CAST(sum(n_c) AS BIGINT) AS t_c
           |  FROM $curCte),
           |${out}terms AS (SELECT
           |    CAST(round((CAST(n_r AS DOUBLE) / t_r
           |        - CAST(n_c AS DOUBLE) / t_c)
           |      * ln((CAST(n_r AS DOUBLE) / t_r)
           |        / (CAST(n_c AS DOUBLE) / t_c))
           |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS term_fp
           |  FROM ref JOIN $curCte USING (bin)
           |  CROSS JOIN tr CROSS JOIN ${out}tc),
           |$out AS (SELECT CAST(count(*) AS BIGINT) AS n_bins,
           |    CAST(round(CAST(CAST(sum(term_fp) AS DOUBLE)
           |      / CAST(1000000.0 AS DOUBLE) AS DECIMAL(20,10)), 4)
           |      AS DOUBLE) AS psi
           |  FROM ${out}terms)""".stripMargin
      s"""WITH ev AS (SELECT event_id,
         |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
         |ref AS (SELECT CAST(floor(v / CAST(500 AS DOUBLE)) AS BIGINT)
         |      AS bin, CAST(count(*) AS BIGINT) AS n_r
         |  FROM ev WHERE event_id % 2 = 0 GROUP BY 1),
         |tr AS (SELECT CAST(sum(n_r) AS BIGINT) AS t_r FROM ref),
         |b1 AS (SELECT v FROM ev WHERE event_id % 4 = 1),
         |b2 AS (SELECT v FROM ev WHERE event_id % 4 = 3),
         |h1 AS (SELECT CAST(floor(v / CAST(500 AS DOUBLE)) AS BIGINT)
         |      AS bin, CAST(count(*) AS BIGINT) AS n_c
         |  FROM b1 GROUP BY 1),
         |h12 AS (SELECT CAST(floor(v / CAST(500 AS DOUBLE)) AS BIGINT)
         |      AS bin, CAST(count(*) AS BIGINT) AS n_c
         |  FROM (SELECT v FROM b1 UNION ALL SELECT v FROM b2)
         |  GROUP BY 1),
         |${psiSql("h1", "s1")},
         |${psiSql("h12", "s2")},
         |f1 AS (SELECT 'b0' || ${fpSql("")} AS batch_fp,
         |    CAST(count(*) AS BIGINT) AS n_rows FROM b1),
         |f2 AS (SELECT 'b1' || ${fpSql("")} AS batch_fp,
         |    CAST(count(*) AS BIGINT) AS n_rows FROM b2)
         |SELECT batch_fp, n_rows, n_bins, psi,
         |  (n_bins = 0 OR psi >= CAST(0.2 AS DOUBLE)) AS alarm
         |FROM f1 CROSS JOIN s1
         |UNION ALL
         |SELECT batch_fp, n_rows, n_bins, psi,
         |  (n_bins = 0 OR psi >= CAST(0.2 AS DOUBLE)) AS alarm
         |FROM f2 CROSS JOIN s2""".stripMargin
    },
    // q308's keep-latest-by-version algebra on the %64=6 slice.
    "q340_merge_stream" ->
      s"""WITH uniq AS (SELECT symbol, d, px, vol FROM (
         |    SELECT *, row_number() OVER (PARTITION BY symbol, d
         |      ORDER BY ord DESC, px DESC, vol DESC) AS rn
         |    FROM ($barsSql) WHERE symbol % 64 = 6) WHERE rn = 1),
         |u AS (SELECT symbol, d, px, 0 AS version FROM uniq
         |  UNION ALL SELECT symbol, d, px * 2, 1 FROM uniq
         |  WHERE symbol % 3 = 0),
         |f AS (SELECT * FROM (SELECT *, row_number() OVER (
         |    PARTITION BY symbol, d ORDER BY version DESC) AS rn
         |  FROM u) WHERE rn = 1)
         |SELECT symbol, CAST(count(*) AS BIGINT) AS n_rows,
         |  round(sum(px), 2) AS px_sum
         |FROM f GROUP BY 1""".stripMargin,
    // Per-batch cumulative states for exactly the symbols active in
    // each batch: n_updates = batches with data, finals = cumulative
    // count/max/min (the last update carries the totals).
    "q344_running_state_stream" ->
      s"""WITH b AS (SELECT symbol, d, px,
         |    date_diff('day', DATE '1970-01-01', d) AS dd
         |  FROM ($barsSql) WHERE symbol % 64 = 9),
         |ext AS (SELECT CAST(floor((min(dd) + max(dd)) / 2) AS BIGINT)
         |    AS mid FROM b),
         |g AS (SELECT symbol,
         |    CAST(max(CASE WHEN dd <= mid THEN 1 ELSE 0 END)
         |      + max(CASE WHEN dd > mid THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_updates,
         |    CAST(count(*) AS BIGINT) AS n_rows_final,
         |    CAST(max(d) AS VARCHAR) AS last_date,
         |    round(min(px), 2) AS min_close
         |  FROM b CROSS JOIN ext GROUP BY 1)
         |SELECT symbol, n_updates, n_rows_final, last_date, min_close
         |FROM g""".stripMargin,
    // The streamed inner interval join equals the batch join (q48's
    // algebra on the %4=0 slice).
    "q346_stream_interval_join" ->
      """SELECT l.user_id AS user_id, count(*) AS n_pairs,
        |  round(sum(r.value), 2) AS pred_value_sum
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        |  AND r.ts >= l.ts - INTERVAL 10 MINUTE
        |  AND r.ts < l.ts
        |WHERE l.user_id % 16 = 0 AND r.user_id % 16 = 0
        |GROUP BY 1""".stripMargin,
    // q43's gaps-and-islands sessions filtered to those whose end
    // (last event + 30 min) is at or below the ms-truncated final
    // watermark.
    "q347_stream_session_windows" ->
      """WITH ev AS (SELECT user_id, ts, value FROM events
        |  WHERE user_id % 4 = 1),
        |wm AS (SELECT (max(epoch_us(ts)) // 1000) * 1000 AS wmf
        |  FROM ev),
        |m AS (SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |g AS (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS s_start,
        |    CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS BIGINT)
        |      AS s_end,
        |    epoch_us(max(ts) + INTERVAL 30 MINUTE) AS end_us,
        |    user_id, CAST(count(*) AS BIGINT) AS n,
        |    round(sum(value), 2) AS value_sum
        |  FROM sess GROUP BY user_id, sid)
        |SELECT s_start, s_end, user_id, n, value_sum
        |FROM g CROSS JOIN wm WHERE end_us <= wmf""".stripMargin,
    // Re-deliveries absorb to exactly one copy: the plain aggregate.
    "q348_stream_dedup_keys" ->
      """SELECT user_id % 10 AS bucket, CAST(count(*) AS BIGINT)
        |    AS n_rows,
        |  CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT)
        |    AS value_sum
        |FROM events WHERE user_id % 4 = 2 GROUP BY 1""".stripMargin,
    // The refresh replayed in SQL: seed = 4 lowest ids of batch 0
    // (chooseK(8)=4), batches 0/1 dedup under those cells, then the
    // retrained centroid set = chooseK(|survivors|) lowest-id
    // survivors, corpus re-assigned, and batch 2 dedups under the new
    // cells. The -1 row is the refreshed model itself.
    "q353_ann_refresh_stream" -> {
      def asg(src: String, ct: String): String =
        s"""SELECT id, vec, cell FROM (
           |  SELECT x.id, x.vec, c.cid AS cell,
           |    row_number() OVER (PARTITION BY x.id
           |      ORDER BY round(${sqdSql("x.vec", "c.cvec")}, 6),
           |        c.cid) AS pr
           |  FROM ($src) x CROSS JOIN $ct c) WHERE pr = 1""".stripMargin
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec
         |  FROM embeddings),
         |tw AS (SELECT id + 1000000000 AS id,
         |    [CASE WHEN j = 1
         |       THEN CAST(CAST(vec[j] AS DOUBLE) + 0.5 AS FLOAT)
         |       ELSE vec[j] END for j in range(1, len(vec) + 1)] AS vec
         |  FROM v WHERE id >= 8 AND id < 200),
         |b01 AS (SELECT id, vec FROM v WHERE id < 200),
         |b2 AS (SELECT id, vec FROM v WHERE id >= 200
         |  UNION ALL SELECT id, vec FROM tw),
         |ct0 AS (SELECT id AS cid, vec AS cvec FROM v
         |  WHERE id < 8 ORDER BY id LIMIT 4),
         |a01 AS (${asg("SELECT * FROM b01", "ct0")}),
         |p0 AS (SELECT DISTINCT a.id FROM a01 a JOIN a01 b
         |  ON a.id < 8 AND b.id < 8 AND a.cell = b.cell AND a.id > b.id
         |  WHERE round(${cosSql("a.vec", "b.vec")}, 6)
         |    >= CAST(0.9 AS DOUBLE)),
         |s0 AS (SELECT id, vec FROM a01 WHERE id < 8
         |  AND id NOT IN (SELECT id FROM p0)),
         |cand1 AS (SELECT id, vec, cell, FALSE AS isnew FROM a01
         |    WHERE id < 8 AND id NOT IN (SELECT id FROM p0)
         |  UNION ALL SELECT id, vec, cell, TRUE FROM a01 WHERE id >= 8),
         |p1 AS (SELECT DISTINCT a.id FROM a01 a JOIN cand1 b
         |  ON a.id >= 8 AND a.cell = b.cell AND a.id <> b.id
         |  AND (NOT b.isnew OR a.id > b.id)
         |  WHERE round(${cosSql("a.vec", "b.vec")}, 6)
         |    >= CAST(0.9 AS DOUBLE)),
         |s1 AS (SELECT id, vec FROM a01 WHERE id >= 8 AND id < 200
         |  AND id NOT IN (SELECT id FROM p1)),
         |surv01 AS (SELECT id, vec FROM s0
         |  UNION ALL SELECT id, vec FROM s1),
         |kk AS (SELECT GREATEST(4, LEAST(65536,
         |    CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS INT))) AS k
         |  FROM surv01),
         |ct1 AS (SELECT cid, cvec FROM (
         |  SELECT id AS cid, vec AS cvec,
         |    row_number() OVER (ORDER BY id) AS rn FROM surv01)
         |  WHERE rn <= (SELECT k FROM kk)),
         |a2 AS (${asg("SELECT id, vec FROM surv01" +
             " UNION ALL SELECT id, vec FROM b2", "ct1")}),
         |cand2 AS (SELECT a2.id, a2.vec, a2.cell,
         |    a2.id IN (SELECT id FROM b2) AS isnew FROM a2),
         |p2 AS (SELECT DISTINCT a.id FROM cand2 a JOIN cand2 b
         |  ON a.isnew AND a.cell = b.cell AND a.id <> b.id
         |  AND (NOT b.isnew OR a.id > b.id)
         |  WHERE round(${cosSql("a.vec", "b.vec")}, 6)
         |    >= CAST(0.9 AS DOUBLE)),
         |s2 AS (SELECT id FROM b2 WHERE id NOT IN (SELECT id FROM p2))
         |SELECT CAST(0 AS BIGINT) AS ingest_batch,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(id) AS BIGINT) AS id_sum FROM s0
         |UNION ALL SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
         |  CAST(sum(id) AS BIGINT) FROM s1
         |UNION ALL SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
         |  CAST(sum(id) AS BIGINT) FROM s2
         |UNION ALL SELECT CAST(-1 AS BIGINT),
         |  (SELECT CAST(count(*) AS BIGINT) FROM ct1),
         |  (SELECT CAST(sum(cid) AS BIGINT) FROM ct1)""".stripMargin
    },
    // Fixture arithmetic: batches 1/3 publish their clean rows,
    // batch 2 (ids ≡ 1 mod 3, which contains every id ≡ 1 mod 30)
    // discards whole.
    "q370_wap_stream" ->
      """WITH p AS (SELECT CAST(count(*) AS BIGINT) AS c
        |    FROM documents WHERE doc_id % 3 = 0 AND doc_id % 10 <> 1),
        |q AS (SELECT CAST(count(*) AS BIGINT) AS c
        |    FROM documents WHERE doc_id % 3 = 2 AND doc_id % 10 <> 1)
        |SELECT p.c + q.c AS published_rows,
        |  CAST(0 AS BIGINT) AS published_bad,
        |  CAST(2 AS BIGINT) AS versions,
        |  CAST(0 AS BIGINT) AS staged_left
        |FROM p, q""".stripMargin,
    // The streamed duel matrix is additive and batch-keyed (replay
    // overwrites its own partition), so the accumulated matrix —
    // and therefore the MM ratings — equal the corpus-at-once q415
    // arithmetic exactly.
    "q419_preference_stream" -> btOracleSql,
    // The shared q484 rank-formulation oracle — the streamed
    // histogram is additive, so running-count thresholds equal the
    // corpus-at-once ranks exactly.
    "q496_conformal_stream" -> conformalOracleSql,
    // The shared q495 composition oracle — the streamed ledger
    // partials are additive, so the accountant's sums/max match
    // corpus-at-once.
    "q510_dp_stream" -> dpOracleSql,
    // v1 retains everything, v2 (after the first DV batch) still
    // retains the odd-multiple half — TWO retaining versions under
    // the clean v3 head; reads anti-join the DVs.
    "q451_erasure_stream" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) FILTER (doc_id % 13 = 0) AS BIGINT) AS d
        |  FROM documents)
        |SELECT n - d AS rows_after, CAST(0 AS BIGINT)
        |    AS matching_after,
        |  CAST(3 AS BIGINT) AS n_versions, true AS head_clean,
        |  CAST(2 AS BIGINT) AS retained_versions
        |FROM m""".stripMargin,
    // The shared DSIR chain; frozen model ⇒ routing is corpus-level,
    // batch boundaries immaterial; a route spine keeps empty routes.
    "q408_dsir_stream" ->
      s"""WITH $dsirCtes,
         |g AS (SELECT CASE WHEN w_micro >= 0 THEN 'keep' ELSE 'drop'
         |    END AS route, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(w_micro) AS BIGINT) AS sum_w
         |  FROM aw GROUP BY 1)
         |SELECT r.route, coalesce(g.n, 0) AS n,
         |  coalesce(g.sum_w, 0) AS sum_w
         |FROM (SELECT 'keep' AS route UNION ALL SELECT 'drop') r
         |LEFT JOIN g USING (route)""".stripMargin,
    // The streaming face replays identically: the oracle rebuilds the
    // FULL combined SA over train ∪ every batch's increments; the
    // batch id is arithmetic on the planted id lanes.
    "q380_decontamination_stream" ->
      s"""WITH ${saCteSqlFrom(
             """SELECT doc_id, text FROM documents WHERE doc_id % 24 = 0
               |    UNION ALL SELECT doc_id + 1000000000 AS doc_id,
               |      text || ' zz9 qq8' AS text
               |    FROM documents WHERE doc_id % 120 = 0""".stripMargin)},
         |${saCrossMatchCtes("doc_id < 1000000000")}
         |SELECT ag.doc_id, CAST(len(tk.tk) AS BIGINT) AS n_tokens,
         |  ag.longest_train_match, ag.contaminated_starts,
         |  CAST(((ag.doc_id - 1000000000) % 240) // 120 AS BIGINT)
         |    AS ingest_batch
         |FROM ag JOIN tk ON tk.doc_id = ag.doc_id
         |WHERE ag.longest_train_match >= 8""".stripMargin,

    // Brute force, no suffix array anywhere: the DISTINCT train
    // 8-gram set, increment window hits by string equality, interval
    // union via the BETWEEN join, clean_fp re-rendered from the kept
    // tokens in position order — an excision that misses or over-cuts
    // any token on any doc hash-fails.
    "q480_excision_stream" ->
      s"""WITH tr AS (SELECT doc_id, $tokSql AS tk
         |  FROM documents WHERE doc_id % 24 = 0),
         |tg AS (SELECT DISTINCT unnest(
         |    [array_to_string(tk[i:i+7], ' ')
         |     for i in range(1, len(tk) - 6)]) AS gram FROM tr),
         |inc AS (SELECT doc_id + 1000000000 AS doc_id,
         |    text || ' zz9 qq8' AS text,
         |    CAST((doc_id % 240) // 120 AS BIGINT) AS ingest_batch
         |  FROM documents WHERE doc_id % 120 = 0),
         |itk AS (SELECT doc_id, ingest_batch, $tokSql AS tk FROM inc),
         |tt AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS t,
         |    unnest(tk) AS token FROM itk),
         |ig AS (SELECT doc_id, unnest(range(1, len(tk) - 6)) AS p,
         |    unnest([array_to_string(tk[i:i+7], ' ')
         |            for i in range(1, len(tk) - 6)]) AS gram
         |  FROM itk),
         |hit AS (SELECT ig.doc_id, ig.p FROM ig
         |  JOIN tg USING (gram)),
         |cov AS (SELECT DISTINCT tt.doc_id, tt.t FROM tt
         |  JOIN hit h ON h.doc_id = tt.doc_id
         |    AND tt.t BETWEEN h.p AND h.p + 7),
         |kept AS (SELECT tt.doc_id,
         |    string_agg(tt.token, ' ' ORDER BY tt.t) AS s
         |  FROM tt LEFT JOIN cov c
         |    ON c.doc_id = tt.doc_id AND c.t = tt.t
         |  WHERE c.t IS NULL GROUP BY 1),
         |nr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
         |  FROM cov GROUP BY 1)
         |SELECT i.doc_id, CAST(len(i.tk) AS BIGINT) AS n_tokens,
         |  coalesce(nr.n_removed, 0) AS n_removed,
         |  md5(coalesce(kept.s, '')) AS clean_fp, i.ingest_batch
         |FROM itk i LEFT JOIN nr ON nr.doc_id = i.doc_id
         |LEFT JOIN kept ON kept.doc_id = i.doc_id""".stripMargin
  )
}
