package graft.processes

import org.apache.spark.sql.{DataFrame, Observation, classic}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Curation, Packing}
import graft.sinks.ShardWriter

/** The end-to-end training-data driver ([EXT]): the composition a user
  * actually runs to turn a raw corpus into training shards —
  *
  *   curate (quality → decontaminate → dedup → split)
  *   → learned-BPE token counts
  *   → token-budget packing → sequence materialization
  *   → deterministic shard write
  *
  * Every stage is one of the engine's own oracled/spec-gated operators;
  * this object only sequences them and carries the frames across, the
  * same plan-builder + thin-sink shape as the reference's drivers
  * (SURVEY.md §7.1). Returns the per-split summary so callers can audit
  * the run without re-reading the output.
  */
object TrainingPipeline {

  final case class Result(
      trainBins: Long,
      trainDocs: Long,
      testDocs: Long,
      shardAssignments: DataFrame)

  /** Run the full pipeline, writing packed train sequences as `nShards`
    * deterministic shards under `outPath` (test-split docs are returned
    * in the summary, not packed — eval data is consumed unpacked).
    */
  def run(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      cfg: Curation.Config = Curation.Config(),
      evalSet: Option[DataFrame] = None,
      numMerges: Int = 200,
      budget: Long = 2048,
      nShards: Int = 8,
      outPath: String): Result = {
    val (train, test) = Curation.curate(docs, idCol, textCol, langCol,
      cfg, evalSet)
    val merges = Bpe.fitMerges(train, textCol, numMerges = numMerges,
      vocabWords = 20000)
    val counted = Bpe.tokenize(train, textCol, merges)
      .select(col(idCol),
        size(col("bpe_tokens")).cast("long").as("__nt"))
    // persist the bins: materializeBins runs two actions over them
    // (strict-count + the join) and each would otherwise re-execute the
    // full-corpus BPE encode upstream; the bins frame is tiny (id lists
    // + counts)
    val bins = Packing.packGreedy(counted, idCol, "__nt", budget)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the sequence count rides the shard write, where a read-back is a
      // schema-inference job plus a count; a missing key means the empty
      // sequence frame was pruned from the plan, i.e. zero bins
      val written = Observation()
      val assignments = ShardWriter.writeShards(
        Packing.materializeBins(bins, train, idCol, textCol)
          .observe(written, count(lit(1)).as("n")),
        "bin_id", nShards, outPath)
      Result(
        trainBins = written.get.getOrElse("n", 0L).asInstanceOf[Long],
        trainDocs = train.count(),
        testDocs = test.count(),
        shardAssignments = assignments)
    } finally {
      // cascade: `unpersist` would leave the join materializeBins persists
      docs.sparkSession.asInstanceOf[classic.SparkSession].sharedState
        .cacheManager.uncacheQuery(bins.asInstanceOf[classic.Dataset[_]],
          cascade = true)
    }
  }
}
