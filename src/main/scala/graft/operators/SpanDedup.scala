package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact shared-span detection ([EXT]) — the exact-substring half of
  * training-data dedup (the Lee et al. 2021 shape): find the longest run
  * of tokens two documents share VERBATIM, so pipelines can strip quoted
  * boilerplate and license blocks that near-dup signatures (whole-doc
  * Jaccard) never see.
  *
  * Relational formulation (no suffix array): explode positioned L-gram
  * seeds, equi-join them across documents, and merge adjacent seed hits
  * into maximal spans with the DIAGONAL trick — two hits of the pair
  * (a, b) belong to the same shared span iff they sit on the same
  * diagonal `posA − posB` and their positions are consecutive; a run of
  * `r` consecutive seeds on one diagonal is a shared span of
  * `r + L − 1` tokens. Runs are islands: `posA − row_number()` within
  * (a, b, diagonal) is constant exactly along a consecutive run.
  *
  * Scale shape: the L-gram seed stream is a narrow posexplode (one row
  * per token, same bytes as the tokenized corpus); the RAW gram string
  * is the join key (collision-free, zero hashing CPU, and with L=5
  * short tokens barely wider than an md5 digest). The document-frequency
  * cap drops boilerplate grams BEFORE the pair join (the standard guard
  * that keeps a viral license paragraph from going quadratic), and every
  * downstream window partitions by (a, b, diagonal) — match rows only,
  * never the corpus. All arithmetic is integer, so the oracle replays
  * bit-exactly with no rounding care.
  */
object SpanDedup {

  /** Positioned seed grams: (idCol, __p 1-based, __g = the L consecutive
    * tokens joined as one raw string — the key itself, not a hash of
    * it). Documents shorter than `l` yield nothing.
    * A zero-exchange map stage: the codegen shingle kernel builds the
    * gram array in one pass and posexplode numbers the positions —
    * no window, so the token stream never shuffles by document.
    */
  private def seeds(df: DataFrame, textCol: String, idCol: String,
      l: Int): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    Similarity.spreadIfNarrow(df.filter(col(textCol).isNotNull))
      .select(col(idCol), TextAnalysis.shingles(toks, l).as("__sh"))
      .select(col(idCol), posexplode(col("__sh")).as(Seq("__p0", "__gs")))
      // the RAW gram string is the grouping key: it groups exactly like
      // any hash of it but costs zero CPU, is immune to collisions, and
      // is no wider than an md5 hex digest (5 tokens ≈ 25-40 chars vs a
      // fixed 32) — measured ~15% off the span pipeline vs md5 keys
      .select(col(idCol), (col("__p0") + 1).as("__p"), col("__gs").as("__g"))
  }

  /** Longest verbatim shared token span per document pair: (id_a, id_b,
    * max_span, n_spans) for pairs whose longest span reaches `minSpan`
    * tokens (id_a < id_b). `maxDf` drops seed grams present in more
    * than that many documents before pairing — raise it only with a
    * matching oracle change.
    */
  def sharedSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      l: Int = 5,
      minSpan: Int = 8,
      maxDf: Int = 50): DataFrame = {
    require(l >= 2 && l <= 50, s"seed length l must be in [2, 50], got $l")
    require(minSpan >= l, s"minSpan ($minSpan) must be >= l ($l)")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    // eager localCheckpoint, not lazy persist: downstream plans start
    // from a LogicalRDD (AQE coalescing applies — the cached-relation
    // variant kept 32-task stages on megabytes), and the pair join's two
    // sides read blocks instead of racing the cache's first-touch lock.
    val s = seeds(df, textCol, idCol, l).localCheckpoint()
    // document-frequency cap BEFORE pairing: a gram in > maxDf docs is
    // boilerplate and would contribute O(df²) pair rows. The lower bound
    // is free correctness-preserving pruning: a df=1 gram can only pair a
    // doc with itself, which id_a < id_b discards anyway — dropping those
    // groups here removes most grams before any pair state exists.
    val ok = s.groupBy(col("__g"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df").between(2, maxDf))
      .select(col("__g"))
    // pair expansion as an a/b equi-join over the CHECKPOINTED df-capped
    // seeds. A groupBy(gram) + collect_list + double-explode variant was
    // built and measured BOTH ways (round 8): it wins at sf0.1 (fewer
    // exchanges) but loses ~2x at the 10x rehearsal — collect_list is an
    // ObjectHashAggregate whose many-group workload degenerates to
    // sort-based aggregation with per-group array buffers, while the
    // self-join streams through a shared-sort SMJ and spills gracefully.
    // The join sides read checkpoint blocks (no recompute, no cache-lock
    // race). One row per (instance in a, instance in b): positions are
    // unique per document, so the join output feeds the run window
    // directly with no distinct.
    val bounded = s.join(ok, Seq("__g"))
    val a = bounded.select(col("__g"), col(idCol).as("id_a"),
      col("__p").as("__pa"))
    val b = bounded.select(col("__g"), col(idCol).as("id_b"),
      col("__p").as("__pb"))
    val hits = a.join(b, Seq("__g"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__pa"), col("__pb"),
        (col("__pa") - col("__pb")).as("__d"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("__d"))
      .orderBy(col("__pa"))
    val runs = hits
      .withColumn("__isl", col("__pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("__d"), col("__isl"))
      .agg(count(lit(1)).as("__run"))
      .withColumn("__span", col("__run") + lit(l - 1))
    runs
      .filter(col("__span") >= minSpan)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("__span")).as("max_span"),
        count(lit(1)).as("n_spans"))
  }

  /** Eval-set span decontamination ([EXT]): for each TRAIN document, the
    * longest token run it shares VERBATIM with any eval document and the
    * number of leaking eval documents — the exact-substring
    * decontamination gate (a contiguous 50-token quote of an eval answer
    * is leakage even when whole-doc shingle overlap stays low; cf. the
    * shingle-count view in `Curation.decontaminate`).
    *
    * Scale shape mirrors decontaminate, not [[sharedSpans]]: the eval
    * side is size-gated and BROADCAST, so the train-side seed stream is
    * pruned to eval-matching grams in-task — no df cap needed (per-gram
    * fan-out is bounded by the broadcast eval side) and the only
    * exchanges carry match rows: the run window keyed (train, eval,
    * diagonal) and the final per-train-doc rollup.
    *
    * Returns (idCol, max_span, n_eval_docs) for train documents whose
    * longest shared run reaches `minSpan`.
    */
  def spanContaminationVs(
      docs: DataFrame,
      evalSet: DataFrame,
      textCol: String,
      idCol: String,
      evalIdCol: String,
      l: Int = 5,
      minSpan: Int = 8): DataFrame = {
    require(l >= 2 && l <= 50, s"seed length l must be in [2, 50], got $l")
    require(minSpan >= l, s"minSpan ($minSpan) must be >= l ($l)")
    Similarity.requireBroadcastable(evalSet, 1000000L,
      "span-decontamination eval set", "chunked calls per eval shard")
    val ts = seeds(docs, textCol, idCol, l)
    val es = seeds(evalSet, textCol, evalIdCol, l)
      .select(col(evalIdCol).as("__eid"), col("__p").as("__ep"), col("__g"))
    val hits = ts.join(broadcast(es), Seq("__g"))
      .select(col(idCol), col("__eid"), col("__p"),
        (col("__p") - col("__ep")).as("__d"))
    val w = Window.partitionBy(col(idCol), col("__eid"), col("__d"))
      .orderBy(col("__p"))
    // (__p, __ep) pairs are unique per (doc, eval) — a position holds one
    // gram — but the same __p can hit several __ep on DIFFERENT diagonals;
    // within one (doc, eval, diagonal) partition __p never repeats, so
    // row_number gives the island offset exactly as in sharedSpans
    hits
      .withColumn("__isl", col("__p") - row_number().over(w))
      .groupBy(col(idCol), col("__eid"), col("__d"), col("__isl"))
      .agg(count(lit(1)).as("__run"))
      .withColumn("__span", col("__run") + lit(l - 1))
      .filter(col("__span") >= minSpan)
      .groupBy(col(idCol))
      .agg(max(col("__span")).as("max_span"),
        countDistinct(col("__eid")).as("n_eval_docs"))
  }

  /** Per-document contamination summary over [[sharedSpans]]: for each
    * document, the longest span it shares with ANY other document and
    * the number of partners at or above `minSpan` — the per-doc gate a
    * strip-or-drop decision keys on.
    */
  def spanContamination(
      df: DataFrame,
      textCol: String,
      idCol: String,
      l: Int = 5,
      minSpan: Int = 8,
      maxDf: Int = 50): DataFrame = {
    val pairs = sharedSpans(df, textCol, idCol, l, minSpan, maxDf)
    // both directions via ONE explode, not a self-union: a union of two
    // selects over `pairs` references the (unpersisted) span plan twice
    // and evaluates the whole seed join + window chain twice with it
    // (measured ~2× q_shared_spans in the bench sweep)
    pairs
      .select(explode(array(
        struct(col("id_a").as("id"), col("max_span"),
          col("id_b").as("partner")),
        struct(col("id_b").as("id"), col("max_span"),
          col("id_a").as("partner")))).as("__s"))
      .select(col("__s.id").as(idCol), col("__s.max_span"),
        col("__s.partner"))
      .groupBy(col(idCol))
      .agg(max(col("max_span")).as("max_span"),
        countDistinct(col("partner")).as("n_partners"))
  }
}
