package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Sequence packing ([EXT]): group documents into token-budget bins — the
  * sample-packing step that turns a curated corpus into fixed-length
  * training sequences without wasting pad tokens.
  *
  * Packing is inherently SEQUENTIAL (each bin depends on everything placed
  * before it), so it cannot be a Catalyst expression; this is one of the
  * few operators where `mapPartitions` is the honest answer (same
  * justification class as the binary decode in Multimodal). The
  * distributed form is the standard per-partition greedy: documents are
  * deterministically hash-bucketed and sorted, then each partition runs
  * one sequential first-fit pass. Quality loss vs global packing is
  * bounded: at most one under-filled bin per partition.
  *
  * Scale design: the input projection carries (id, n_tokens) only — 16
  * bytes/doc through the one shuffle, never text. Bin ids are globally
  * unique by construction ((partition << 32) | local index), no
  * post-assignment coordination.
  */
object Packing {

  /** One packed training sequence. */
  final case class PackedBin(
      bin_id: Long,
      doc_ids: Seq[Long],
      n_docs: Int,
      total_tokens: Long)

  /** Materialize packed bins into training sequences: explode each bin's
    * id list with its position, join the document texts on id, and
    * concatenate per bin in pack order. At scale both sides are large, so
    * this is a plain equi-join on the doc id (Catalyst picks the
    * strategy) followed by one aggregation per bin; order inside a bin is
    * pinned by sorting the collected (pos, text) structs, not by any
    * arrival assumption.
    *
    * `strict` (default on) pays one counting job to fail fast when the
    * join would silently corrupt sequences. Expected slots come from the
    * bins themselves (no join needed), and the joined frame is checked on
    * three axes at once — row count (missing ids shrink it), distinct id
    * count (a duplicated id compensating for a missing one keeps the row
    * count but not the distinct count; packGreedy packs each id exactly
    * once), and non-null text count (concat_ws drops null texts
    * silently). The joined frame is persisted since both the check and
    * the final aggregation read it. Disable only when the caller
    * guarantees `docs` maps packed ids 1:1 to non-null texts.
    *
    * Cache lifecycle: in strict mode the joined frame stays persisted
    * after return (the result is lazy). Long-running sessions should
    * `spark.catalog.clearCache()` between workloads.
    */
  def materializeBins(
      bins: Dataset[PackedBin],
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n",
      strict: Boolean = true): DataFrame = {
    val exploded0 = bins.toDF()
      .select(col("bin_id"),
        posexplode(col("doc_ids")).as(Seq("pos", "__id")))
    // strict mode persists the exploded slots BEFORE the two actions
    // below: the expected-count aggregate materializes this cache in one
    // traversal of the repartition+sort+pack lineage, and the join then
    // reads the cached slots instead of re-running it (ADVICE r9: the
    // previous shape counted the UNPERSISTED exploded frame while
    // joined's persist was still cold — the pack lineage ran twice
    // anyway, same as the pre-round-9 two-pass shape it claimed to fix).
    val exploded =
      if (strict) exploded0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else exploded0
    val texts = docs.select(col(idCol).cast("long").as("__id"),
      col(textCol).as("__text"))
    val joined0 = exploded.join(texts, "__id")
    val joined =
      if (strict)
        joined0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else joined0
    if (strict) {
      // one audit aggregate over the cached exploded slots gives the
      // expected count: every packed slot appears exactly once in
      // `exploded`, and the join-row count n below is compared against it
      val expected = exploded
        .agg(count(lit(1))).head().getLong(0)
      val r = joined.agg(
        count(lit(1)).as("n"),
        count_distinct(col("__id")).as("nid"),
        count(col("__text")).as("ntext")).head()
      val (n, nid, ntext) = (r.getLong(0), r.getLong(1), r.getLong(2))
      require(n == expected && nid == expected && ntext == expected,
        s"materializeBins: packed ids and docs disagree (expected " +
          s"$expected doc slots; join rows=$n, distinct ids=$nid, " +
          s"non-null texts=$ntext) — missing/duplicated ${idCol}s or " +
          s"null ${textCol}s would silently corrupt sequences")
      // the slot cache served both actions; joined's own persist carries
      // the downstream groupBy from here
      exploded.unpersist(blocking = false)
    }
    joined
      .groupBy(col("bin_id"))
      .agg(
        concat_ws(sep,
          transform(
            array_sort(collect_list(struct(col("pos"), col("__text")))),
            e => e.getField("__text"))).as("text"),
        // count texts, not rows: a null text is skipped by concat_ws and
        // must not inflate the doc count
        count(col("__text")).cast("int").as("n_docs"))
  }

  /** One doc's packing slot from [[packNextFit]]. */
  final case class PackAssign(doc_id: Long, bucket: Long, bin: Long)

  /** Cross-engine-deterministic next-fit packing: documents are bucketed
    * by an md5-derived hash (portable — any engine computes the same
    * buckets, unlike xxhash64), ordered by ascending id within a bucket,
    * and packed by one sequential next-fit pass per bucket. The bin index
    * is a pure function of (ids, token counts, budget, nBuckets) — no
    * dependence on partition count or task placement — which is what lets
    * an independent engine reproduce the assignment exactly (DuckDB: a
    * recursive CTE walking each bucket in id order).
    *
    * Same scale shape as [[packGreedy]]: only (id, nt, bucket) shuffles
    * (~24 B/doc), the sequential pass is per-partition, and a partition
    * holding several buckets resets its running bin state on each bucket
    * boundary, so correctness never depends on nBuckets vs partition
    * count. Oversized docs get a bin of their own, like packGreedy.
    */
  def packNextFit(
      docs: DataFrame,
      idCol: String,
      tokenCountCol: String,
      budget: Long,
      nBuckets: Int): DataFrame =
    nextFitAssign(docs, idCol, tokenCountCol, budget, nBuckets)
      .select("doc_id", "bucket", "bin")

  /** [[PackAssign]] plus the doc's clamped token count (internal: lets
    * [[packStats]] aggregate without re-joining the counts back on id). */
  final case class PackAssignN(
      doc_id: Long, bucket: Long, bin: Long, nt: Long)

  private def nextFitAssign(
      docs: DataFrame,
      idCol: String,
      tokenCountCol: String,
      budget: Long,
      nBuckets: Int): Dataset[PackAssignN] = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val bucket = Sampling.md5Mod(col(idCol), "", nBuckets.toLong)
    implicit val enc = Encoders.product[PackAssignN]
    docs
      .select(col(idCol).cast("long").as("id"),
        coalesce(col(tokenCountCol).cast("long"), lit(0L)).as("nt"),
        bucket.as("bucket"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("id"))
      .mapPartitions { rows =>
        var curBucket = Long.MinValue
        var bin = 0L
        var cur = 0L
        rows.map { r =>
          val id = r.getLong(0)
          val nt = math.max(r.getLong(1), 0L)
          val b = r.getLong(2)
          if (b != curBucket) { curBucket = b; bin = 0L; cur = nt }
          else if (cur + nt > budget) { bin += 1L; cur = nt }
          else cur += nt
          PackAssignN(id, b, bin, nt)
        }
      }
  }

  /** Packing efficiency report over [[packNextFit]]: one row per packed
    * bin with its doc count, token total, and pad waste (`budget -
    * total_tokens`, negative exactly when a single oversized doc owns the
    * bin). This is the audit a training pipeline reads before committing
    * a budget — fill distribution, waste fraction, oversize count — and
    * every column is an integer, so it hash-compares cross-engine under
    * the same recursive-CTE replay that oracles the assignment itself.
    *
    * Scale shape: the sequential pass already holds each doc's token
    * count in-task, so the stats need NO join back to the corpus — just
    * one aggregation keyed by (bucket, bin), which arrives pre-clustered
    * from the pack pass's bucket partitioning (partial aggs collapse
    * nearly everything map-side).
    */
  def packStats(
      docs: DataFrame,
      idCol: String,
      tokenCountCol: String,
      budget: Long,
      nBuckets: Int): DataFrame =
    nextFitAssign(docs, idCol, tokenCountCol, budget, nBuckets)
      .toDF()
      .groupBy(col("bucket"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        (lit(budget) - sum(col("nt"))).as("waste"),
        max((col("nt") > budget).cast("long")).as("oversized"))

  /** Greedy first-fit-by-arrival packing. `docs` needs a long id column
    * and a long token-count column. Documents larger than `budget` get a
    * bin of their own (flagged by total_tokens > budget) rather than being
    * dropped — splitting oversized docs is the caller's chunking concern.
    * Deterministic for a fixed `nPartitions`: the bucket key is
    * xxhash64(id) mod n and arrival order is ascending id.
    *
    * `portableDraw` swaps the xxhash64 bucket draw for the md5-derived
    * one ([[Sampling.md5Mod]], the [[packNextFit]] draw) and keys bin ids
    * by BUCKET rather than partition id (`(bucket << 32) | local`), which
    * makes the whole assignment a pure function of (ids, counts, budget,
    * n) that an independent engine replays exactly — the cross-engine
    * oracle path. The default stays xxhash64: one codegen'd hash versus
    * an md5 + hex-decode per row on the hot ingest path.
    */
  def packGreedy(
      docs: DataFrame,
      idCol: String,
      tokenCountCol: String,
      budget: Long,
      nPartitions: Int = 0,
      portableDraw: Boolean = false): Dataset[PackedBin] = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = docs.sparkSession
    val n =
      if (nPartitions > 0) nPartitions
      else spark.sparkContext.defaultParallelism
    implicit val enc = Encoders.product[PackedBin]
    val keyed = docs
      .select(col(idCol).cast("long").as("id"),
        // null-count docs pack as zero-cost rather than NPE-ing the
        // per-partition pass; null ids are a data error and still throw
        coalesce(col(tokenCountCol).cast("long"), lit(0L)).as("nt"))
    if (portableDraw) {
      // several buckets may share a partition: the sequential pass resets
      // its bin state on every bucket boundary (the nextFitAssign rule),
      // so correctness never depends on n vs partition count.
      // The draw hashes the RAW id column, exactly like packNextFit
      // (round-9 review finding: hashing the long-cast alias diverged
      // from packNextFit for any id whose string form differs from its
      // cast — e.g. decimal ids — breaking the shared-draw contract).
      docs
        .select(col(idCol).cast("long").as("id"),
          coalesce(col(tokenCountCol).cast("long"), lit(0L)).as("nt"),
          Sampling.md5Mod(col(idCol), "", n.toLong).as("bucket"))
        .repartition(n, col("bucket"))
        .sortWithinPartitions(col("bucket"), col("id"))
        .mapPartitions { rows =>
          packBinsLazy(rows.map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2))), budget)
        }
    } else keyed
      .repartition(n, pmod(xxhash64(col("id")), lit(n.toLong)))
      .sortWithinPartitions(col("id"))
      .mapPartitions { rows =>
        val pid = TaskContext.getPartitionId().toLong
        packBinsLazy(rows.map(r => (r.getLong(0), r.getLong(1), pid)),
          budget)
      }
  }

  /** Lazy next-fit over (id, nTokens, bucket) rows pre-sorted by (bucket,
    * id): each `next()` consumes exactly one bin's rows, so resident state
    * is ONE open bin — not the whole partition's bins, which the previous
    * eager-builder shape held (every doc id in the partition resident
    * before the first bin was emitted; at the 100 TB target that is GBs
    * of Vector per task on top of the input stream). Bin boundaries and
    * ids are identical to the eager pass: a bin closes when the bucket
    * changes or the next doc would exceed `budget` (a lone over-budget
    * doc still opens its own bin), local bin counters reset per bucket,
    * and the bin id is (bucket << 32) | localBin.
    */
  private def packBinsLazy(
      rows: Iterator[(Long, Long, Long)],
      budget: Long): Iterator[PackedBin] = new Iterator[PackedBin] {
    private val it = rows.buffered
    private var curBucket = Long.MinValue
    private var localBin = 0L
    override def hasNext: Boolean = it.hasNext
    override def next(): PackedBin = {
      val (id0, nt0, bucket) = it.next()
      if (bucket != curBucket) { curBucket = bucket; localBin = 0L }
      var docs = Vector(id0)
      var tokens = math.max(nt0, 0L)
      var open = true
      while (open && it.hasNext) {
        val (_, nt, b) = it.head
        val ntc = math.max(nt, 0L)
        if (b != curBucket || tokens + ntc > budget) open = false
        else {
          docs :+= it.next()._1
          tokens += ntc
        }
      }
      val bin = PackedBin((curBucket << 32) | localBin, docs,
        docs.size, tokens)
      localBin += 1
      bin
    }
  }
}
