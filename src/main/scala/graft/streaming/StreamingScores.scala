package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface ([EXT], SURVEY.md §2.I): the reference is
  * batch-only (monthly EMR cadence), so these expose its MQ-score
  * aggregation shape incrementally — watermarked tumbling windows and
  * session windows over an event stream.
  *
  * The plan builders take any DataFrame (batch or streaming) so batch parity
  * is testable: on a stream they compile to stateful aggregations whose
  * state is bounded by the watermark; on a batch frame they produce the same
  * answer as the equivalent groupBy.
  */
object StreamingScores {

  /** Tumbling-window event rollup with a watermark bounding state.
    *
    * The grouping key must be the window STRUCT itself, not
    * `window.getField("start")`: the TimeWindowing rule attaches the
    * watermark-delay metadata to the window attribute, and projecting a
    * field out of it inside the groupBy strips that metadata — the state
    * store then never builds an eviction predicate and "watermark-
    * bounded" silently becomes "retained forever". Start is projected
    * AFTER the aggregation.
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window)
          .as("__w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("__w").getField("start").as("window_start"),
        col("event_type"), col("n"), col("total"))

  /** Windowed corpus data card: the streaming analogue of
    * `CorpusReport.dataCard` for an ingest pipeline — per (window, source)
    * volume, token mass, and an APPROXIMATE duplicate signal
    * (`approx_count_distinct` over the content fingerprint; exact
    * `count_distinct` is not supported in streaming aggregations, and at
    * ingest rates an HLL bound is the right tool anyway). On a batch
    * frame it computes the same shape for parity testing, modulo the
    * approximate distinct.
    */
  def windowedDataCard(
      docs: DataFrame,
      tsCol: String,
      sourceCol: String,
      textCol: String,
      window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val toks = graft.operators.TextAnalysis.tokens(col(textCol))
    docs
      .withWatermark(tsCol, watermark)
      .filter(col(sourceCol).isNotNull)
      // group by the window struct, not a projected field — see
      // windowedCounts: field projection strips the watermark metadata
      // and disables state eviction
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window)
          .as("__w"),
        col(sourceCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(size(toks)), lit(0L)).cast("long").as("n_tokens"),
        round(avg(size(toks)), 4).as("avg_tokens"),
        approx_count_distinct(
          graft.operators.TextAnalysis.fingerprint(col(textCol)))
          .as("approx_uniq"))
      .select(col("__w").getField("start").as("window_start"),
        col("source"), col("n_docs"), col("n_tokens"),
        col("avg_tokens"), col("approx_uniq"))
  }

  /** Per-user session windows (gap-based), the stateful-session analogue. */
  def sessionStats(
      events: DataFrame,
      tsCol: String,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Watermarked stream-stream interval join ([EXT]): match each left-side
    * event to right-side events for the same key within
    * [left.ts − lookback, left.ts]. Both sides carry watermarks and the
    * join condition bounds event time in BOTH directions, which is what
    * lets Spark evict buffered state as the watermarks advance — without
    * the time bound a stream-stream join buffers forever. The inner-join
    * streaming counterpart of AsOfJoin's batch plan.
    *
    * Column contract: left has (`key`, `leftTs`, ...), right has (`key`,
    * `rightTs`, ...); ts columns must be distinct names.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      lookback: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(key) === r(key) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
        col(rightTs) <= col(leftTs))
      .drop(r(key))
  }

  /** Stream-static enrichment join ([EXT]): each micro-batch joins the
    * static dimension frame — stateless on the stream side (no watermark,
    * no buffered state; only stream-stream joins buffer). `broadcast`
    * keeps it a broadcast hash join inside every micro-batch, so the
    * stream never shuffles — the streaming analogue of the batch
    * dim-enrichment in q_join_region_revenue, and the shape a curation
    * stream uses to attach per-source metadata on ingest. Left join:
    * events with no dimension row pass through with nulls rather than
    * silently dropping.
    */
  def enrichedStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup ([EXT]: the ingestion-time flavor of
    * Dedup.exactGroups): drop rows whose key was already seen within the
    * watermark horizon. State holds one entry per distinct key and is
    * evicted as the watermark passes — bounded memory on an unbounded
    * stream, the property a plain dropDuplicates (infinite state) lacks at
    * corpus scale. Dedup keys are typically content fingerprints
    * (TextAnalysis.fingerprint), computed scan-side so state stores a
    * 32-char digest, not document bodies.
    */
  def dedupedStream(
      rows: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    rows
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming ingest curation ([EXT]): the batch Curation pipeline's
    * ingest-time counterpart, composed from this file's pieces — a narrow
    * quality/language gate (same predicate family as
    * Curation.qualityFilter), watermark-bounded exact dedup on the
    * content fingerprint (state holds a 32-char digest per distinct doc,
    * never bodies), and a stateless broadcast enrichment against a static
    * dimension. Everything before the sink is either narrow or
    * watermark-bounded, so state cannot grow with the stream.
    *
    * Column contract: `docs` carries (tsCol, textCol, langCol, joinKey).
    */
  def ingestCuration(
      docs: DataFrame,
      dim: DataFrame,
      tsCol: String,
      textCol: String,
      langCol: String,
      joinKey: String,
      // the DEFAULT config is the batch default (round-9 review finding:
      // a maxStopRatio=1.0 default here silently disabled the stopword
      // gate that batch curate enforces, so the two surfaces' default
      // gates disagreed despite sharing the predicate builder)
      cfg: graft.operators.Curation.Config = graft.operators.Curation.Config(),
      watermark: String = "2 hours"): DataFrame = {
    // the SAME predicate builder as batch Curation.qualityFilter — the
    // train-time and ingest-time gates cannot drift apart (register for
    // the blocklist conjunct's literal-map kernel)
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val gated0 = docs
      .filter(graft.operators.Curation.qualityPredicate(textCol, langCol, cfg))
    // same gate-then-rewrite order as batch curate: the C4 page gate (in
    // the predicate above) saw the raw page; survivors keep only their
    // retained lines, and the dedup fingerprint hashes the CLEANED text
    val gated = (if (cfg.c4) gated0.withColumn(textCol,
        graft.operators.TextAnalysis.c4CleanLines(col(textCol)))
      else gated0)
      .withColumn("__fp", graft.operators.TextAnalysis.fingerprint(col(textCol)))
    val deduped = dedupedStream(gated, tsCol, Seq("__fp"), watermark)
      .drop("__fp")
    enrichedStream(deduped, dim, joinKey)
  }

  // ------------------------------------------------------------------
  // Streaming near-dup (VERDICT r3 item 7)
  // ------------------------------------------------------------------

  /** Rows for the streaming near-dup operator. */
  final case class SketchedDoc(bucket: Long, doc_id: Long, ts: Timestamp,
      simhash: Long)
  final case class SketchEntry(ts_ms: Long, simhash: Long)
  final case class BucketState(entries: List[SketchEntry])
  final case class KeptDoc(doc_id: Long, ts: Timestamp, simhash: Long)

  /** "N <unit>s" → milliseconds (the subset of Spark's interval syntax the
    * streaming horizons here use).
    */
  private[streaming] def durationMs(s: String): Long = {
    val pat = "(?i)^\\s*(\\d+)\\s*(millisecond|second|minute|hour|day)s?\\s*$".r
    s match {
      case pat(n, unit) => n.toLong * (unit.toLowerCase match {
        case "millisecond" => 1L
        case "second" => 1000L
        case "minute" => 60000L
        case "hour" => 3600000L
        case "day" => 86400000L
      })
      case _ => throw new IllegalArgumentException(
        s"unsupported duration '$s' — use 'N milliseconds/seconds/minutes/hours/days'")
    }
  }

  /** Streaming NEAR-dup suppression ([EXT]): drop documents whose SimHash is
    * within `maxHamming` bits of a KEPT document seen in the same bucket
    * within the preceding watermark horizon (greedy, survivor-anchored:
    * every drop has a retained representative within `maxHamming` — the
    * banded variant makes the opposite, transitive-chain choice) — the
    * ingest-time analogue of `Dedup.nearDupPairs`, where `dedupedStream`
    * is the exact-match analogue of `Dedup.exactGroups`.
    *
    * Plan shape: the 64-bit SimHash is computed scan-side (narrow, no
    * shuffle); the only exchange is the groupByKey on the bucket key. State
    * per bucket is a list of (event-time ms, simhash) pairs — 16 bytes per
    * retained doc, never text — pruned two ways: entries older than
    * `watermark horizon` drop out on every visit, and an event-time timeout
    * removes whole idle buckets, so state is bounded on an unbounded
    * stream. `maxBucketState` caps a degenerate bucket (the streaming twin
    * of `Dedup.lshCandidatePairs`' maxBucketSize): oldest entries beyond
    * the cap are forgotten, trading recall inside pathological buckets for
    * bounded memory.
    *
    * DESIGN NOTE — single-band recall (the documented analysis VERDICT r3
    * item 7 asked for): the bucket key is ONE SimHash prefix band of
    * `prefixBits` bits, so a true near-dup pair is only compared when its
    * `d ≤ maxHamming` differing bits all fall outside the prefix —
    * probability C(64−p, d)/C(64, d) for random bit positions (p=16, d=3:
    * ≈ 0.41; d=1: 0.75). Batch LSH recovers recall by probing `nTables`
    * independent bands and OR-ing candidates, but the OR is a per-doc
    * aggregation ACROSS band keys — in streaming that is a second stateful
    * operator downstream of this one (or a custom multi-table
    * StatefulProcessor), which Spark only supports in narrow append-mode
    * chains and which multiplies state by nTables. The supported posture
    * here: this operator is the cheap in-horizon guard (recall documented,
    * precision exact — every drop is a verified ≤ maxHamming match);
    * corpus-level completeness comes from the batch `Dedup.nearDupPairs`
    * pass over the landed data, which is also where verified-Jaccard
    * semantics live. Exact duplicates (hamming 0) always collide in every
    * band and are caught with recall 1.
    *
    * In-batch determinism: rows inside one micro-batch process in
    * (event time, doc_id) order, so the earliest copy survives regardless
    * of arrival interleaving.
    */
  def nearDupStream(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      prefixBits: Int = 16,
      watermark: String = "2 hours",
      maxBucketState: Int = 256): Dataset[KeptDoc] = {
    require(prefixBits > 0 && prefixBits <= 63,
      s"prefixBits must be in [1,63], got $prefixBits")
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0,64), got $maxHamming")
    // reserved-column guard (the Dedup/ShardWriter/DeltaCurate
    // convention, round-9 review finding: withColumn would silently
    // REPLACE a caller's __simhash and the select would shadow the rest)
    require(!docs.columns.contains("__simhash"),
      "input must not already contain a __simhash column")
    val horizonMs = durationMs(watermark)
    implicit val inEnc = Encoders.product[SketchedDoc]
    implicit val outEnc = Encoders.product[KeptDoc]
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val keyEnc = Encoders.scalaLong
    val sketched = docs
      .withColumn("__simhash",
        graft.operators.Dedup.simhash(
          graft.operators.TextAnalysis.tokens(col(textCol)), 64,
          graft.operators.SketchHash.XxHash64))
      .withWatermark(tsCol, watermark)
      .select(
        shiftrightunsigned(col("__simhash"), 64 - prefixBits).as("bucket"),
        col(idCol).cast("long").as("doc_id"),
        col(tsCol).as("ts"),
        col("__simhash").as("simhash"))
      .as[SketchedDoc]
    sketched
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, KeptDoc](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[SketchedDoc], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            // prune: entries that can no longer suppress ANY admissible
            // arrival (the watermark admits only ts ≥ wm) drop out. The
            // prune alone is NOT the horizon bound — wm lags max event
            // time by the watermark delay, so a surviving entry can be up
            // to TWO horizons older than a fresh arrival; the per-row
            // time term below enforces the actual contract ("an entry at
            // ts e only suppresses arrivals with event time ≤ e + horizon")
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
              .filter(_.ts_ms + horizonMs >= wm)
            val kept = List.newBuilder[KeptDoc]
            rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
              val dup = entries.exists(e =>
                r.ts.getTime <= e.ts_ms + horizonMs &&
                  java.lang.Long.bitCount(e.simhash ^ r.simhash) <= maxHamming)
              if (!dup) {
                entries ::= SketchEntry(r.ts.getTime, r.simhash)
                kept += KeptDoc(r.doc_id, r.ts, r.simhash)
              }
            }
            if (entries.size > maxBucketState)
              entries = entries.sortBy(-_.ts_ms).take(maxBucketState)
            state.update(BucketState(entries))
            // whole-bucket eviction once every entry has aged out; must sit
            // strictly past the current watermark or Spark rejects it
            val maxTs = entries.iterator.map(_.ts_ms).foldLeft(0L)(math.max)
            state.setTimeoutTimestamp(math.max(maxTs + horizonMs, wm + 1))
            kept.result().iterator
          }
      }
  }

  /** Rows for the BANDED near-dup variant. */
  final case class BandKey(band: Int, key: Long)
  final case class BandedDoc(band: Int, key: Long, doc_id: Long,
      ts: Timestamp, simhash: Long)
  final case class BandVerdict(doc_id: Long, ts: Timestamp, simhash: Long,
      band: Int, suppressed: Boolean)

  /** Multi-band streaming near-dup (the recall upgrade [[nearDupStream]]'s
    * design note prices out): the 64-bit SimHash splits into `bands`
    * disjoint slices, each doc lands in `bands` state groups, and each
    * group emits a per-band verdict. By pigeonhole, a pair within
    * `maxHamming < bands` bits shares at least one identical band, so the
    * OR over bands catches every in-horizon near-dup — recall 1.0 where
    * the single-band operator's is C(64−p, d)/C(64, d), at `bands`× the
    * state and shuffle cost (caller's trade). The guarantee holds WITHIN
    * the state bounds: `maxBucketState` eviction in a hot bucket (the
    * band key is only 64/bands bits) and the watermark horizon both
    * forget entries, exactly like the single-band operator — size the cap
    * to the expected per-bucket in-horizon volume when full recall
    * matters.
    *
    * The OR itself is an aggregation downstream of a stateful operator,
    * which append-mode streaming can't chain — so this operator emits the
    * verdict stream and [[keptFromBandVerdicts]] folds it per micro-batch
    * inside the caller's `foreachBatch` (all of a doc's band rows ride the
    * same batch, so the fold never splits a doc).
    *
    * Transitive-suppression semantics: every doc enters every band's
    * state, INCLUDING docs the band itself suppressed — the pigeonhole
    * argument requires it (a doc suppressed in one band may share only
    * its other bands with a later near-dup; those bands can only compare
    * against it if they hold it; see the chain counterexample pinned in
    * the drift-chain regression test). A later doc matching a suppressed
    * entry is a near-dup of the chain that suppressed it (the same
    * approximation batch LSH clustering makes), so precision is "within
    * maxHamming of something earlier", not "of a surviving doc" — the
    * single-band operator makes the opposite (greedy, survivor-anchored)
    * choice.
    */
  def nearDupStreamBanded(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      watermark: String = "2 hours",
      maxBucketState: Int = 256): Dataset[BandVerdict] = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands must be >= 2 and divide 64, got $bands")
    // maxHamming < bands is the operator's contract: it is exactly what
    // makes the pigeonhole recall-1.0 guarantee hold (need more hamming
    // tolerance → use more bands)
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming must be in [0,bands=$bands), got $maxHamming")
    require(!docs.columns.exists(c => c == "__simhash" || c == "__b"),
      "input must not already contain __simhash/__b columns")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val horizonMs = durationMs(watermark)
    implicit val inEnc = Encoders.product[BandedDoc]
    implicit val outEnc = Encoders.product[BandVerdict]
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val keyEnc = Encoders.product[BandKey]
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("__simhash"), b * width)
          .bitwiseAND(lit(mask)).as("key"))
    }
    val sketched = docs
      .withColumn("__simhash",
        graft.operators.Dedup.simhash(
          graft.operators.TextAnalysis.tokens(col(textCol)), 64,
          graft.operators.SketchHash.XxHash64))
      .withWatermark(tsCol, watermark)
      .select(explode(array(bandStructs: _*)).as("__b"),
        col(idCol).cast("long").as("doc_id"),
        col(tsCol).as("ts"),
        col("__simhash").as("simhash"))
      .select(col("__b.band").as("band"), col("__b.key").as("key"),
        col("doc_id"), col("ts"), col("simhash"))
      .as[BandedDoc]
    sketched
      .groupByKey(r => BandKey(r.band, r.key))
      .flatMapGroupsWithState[BucketState, BandVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (bk: BandKey, rows: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
              .filter(_.ts_ms + horizonMs >= wm)
            val out = List.newBuilder[BandVerdict]
            rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
              // same per-row horizon bound as nearDupStream (the prune
              // alone admits entries up to two horizons old)
              val dup = entries.exists(e =>
                r.ts.getTime <= e.ts_ms + horizonMs &&
                  java.lang.Long.bitCount(e.simhash ^ r.simhash) <= maxHamming)
              // EVERY doc enters this band's state, suppressed or not —
              // the pigeonhole guarantee needs it: a doc suppressed here
              // may share only its OTHER bands with a later near-dup, and
              // those bands can only compare against it if they hold it
              // (the drift-chain regression test pins the counterexample).
              entries ::= SketchEntry(r.ts.getTime, r.simhash)
              out += BandVerdict(r.doc_id, r.ts, r.simhash, bk.band, dup)
            }
            if (entries.size > maxBucketState)
              entries = entries.sortBy(-_.ts_ms).take(maxBucketState)
            state.update(BucketState(entries))
            val maxTs = entries.iterator.map(_.ts_ms).foldLeft(0L)(math.max)
            state.setTimeoutTimestamp(math.max(maxTs + horizonMs, wm + 1))
            out.result().iterator
          }
      }
  }

  /** The per-micro-batch OR over [[nearDupStreamBanded]]'s verdicts, for
    * the caller's `foreachBatch`: a doc survives iff NO band suppressed
    * it. Returns (doc_id, ts, simhash) like [[nearDupStream]].
    */
  def keptFromBandVerdicts(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("doc_id"), col("ts"), col("simhash"))
      .agg(max(col("suppressed").cast("int")).as("__sup"))
      .filter(col("__sup") === 0)
      .drop("__sup")

  /** Input/output rows for the custom-state operator. */
  final case class UserEvent(user_id: Long, ts: Timestamp, value: Double)
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via flatMapGroupsWithState (SURVEY.md §2.I): running
    * per-user totals that survive across micro-batches — the stateful shape
    * session_window/windowed aggs can't express (no window boundary; state
    * lives until the optional processing-time timeout evicts idle users,
    * bounding memory at cluster scale).
    *
    * `idleTimeout = None` disables eviction (and the timer-driven empty
    * micro-batches it causes — with a timeout set, Spark re-triggers batches
    * continuously to fire timers, which makes `processAllAvailable` in tests
    * chase a moving target). Production streams over unbounded key spaces
    * should pass a timeout.
    */
  def runningUserTotals(events: Dataset[UserEvent],
      idleTimeout: Option[String] = None): Dataset[UserTotals] = {
    implicit val outEnc = Encoders.product[UserTotals]
    implicit val keyEnc = Encoders.scalaLong
    val timeoutConf = idleTimeout.map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout())
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotals, UserTotals](
        OutputMode.Update(), timeoutConf) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserTotals(userId, 0L, 0.0))
            val batch = rows.toSeq
            val next = UserTotals(userId,
              prev.n_events + batch.size,
              prev.total_value + batch.map(_.value).sum)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            Iterator.single(next)
          }
      }
  }
}
