package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned byte-pair-encoding tokenization ([EXT]): fit a merge table from a
  * corpus, apply it distributed — so Packing / chunkTokens budgets can count
  * REAL subword tokens instead of regex words (VERDICT r3 item 5).
  *
  * Split follows the fit/apply pattern of [[UnigramLm]]:
  *
  *  - `fitMerges` is fit-style: word frequencies aggregate DISTRIBUTED
  *    (explode → hash agg → TakeOrderedAndProject), only the bounded top-K
  *    word/count rows reach the driver (K·~20 bytes — the same bounded-
  *    collect posture as the UnigramLm vocab and the IVF centroids). The
  *    greedy merge loop then runs driver-side over that table — classic
  *    Sennrich 2016 training, deterministic: ties on pair count break to
  *    the lexicographically smallest pair.
  *  - `encode` applies the learned table executor-side via the codegen'd
  *    [[graft.plans.BpeEncode]] expression; the table rides the plan as one
  *    literal (a 1000-merge table is ~10 KB — broadcast-free).
  *
  * At 100 TB: fitting touches every document but shuffles only distinct
  * words (Zipf-bounded); encoding is a narrow, shuffle-free map stage that
  * stays inside WholeStageCodegen. Tokenizer drift is impossible by
  * construction — train-time and apply-time segmentation share one
  * expression class and one serialized table.
  */
object Bpe {

  /** Learn a merge table from the corpus.
    *
    * @param vocabWords  bound on distinct words collected for training
    *                    (top by frequency, ties to the smaller word) —
    *                    the driver-side memory gate
    * @param minPairFreq stop once the best pair is rarer than this
    */
  def fitMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      vocabWords: Int = 50000,
      minPairFreq: Long = 2L): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(vocabWords > 0, s"vocabWords must be positive, got $vocabWords")
    val wordCounts = df
      .select(explode(TextAnalysis.tokensBpeish(col(textCol))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w"))
      .limit(vocabWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))

    // driver-side greedy loop over the bounded word table
    var vocab: Array[(Array[String], Long)] =
      wordCounts.map { case (w, n) => (w.toCharArray.map(String.valueOf), n) }
    val merges = Seq.newBuilder[(String, String)]
    var step = 0
    var exhausted = false
    while (step < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // deterministic argmax: highest count, then smallest pair
        val (bestPair, bestCount) = counts.reduceLeft { (a, b) =>
          if (b._2 > a._2 || (b._2 == a._2 &&
            (b._1._1 < a._1._1 ||
              (b._1._1 == a._1._1 && b._1._2 < a._1._2)))) b
          else a
        }
        if (bestCount < minPairFreq) exhausted = true
        else {
          merges += bestPair
          val merged = bestPair._1 + bestPair._2
          vocab = vocab.map { case (syms, n) =>
            if (syms.length < 2) (syms, n)
            else {
              val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
              var i = 0
              while (i < syms.length) {
                if (i < syms.length - 1 && syms(i) == bestPair._1 &&
                  syms(i + 1) == bestPair._2) {
                  out += merged; i += 2
                } else { out += syms(i); i += 1 }
              }
              (out.toArray, n)
            }
          }
        }
      }
      step += 1
    }
    merges.result()
  }

  /** One merge per line, parents space-separated, rank = line order — the
    * wire format [[graft.plans.BpeEncode]] parses. Pieces are whitespace-free
    * by construction (word tokens), so both separators are unambiguous.
    */
  def serializeMerges(merges: Seq[(String, String)]): String =
    merges.map { case (a, b) => s"$a $b" }.mkString("\n")

  /** BPE token array for a text column under a learned merge table.
    * Requires `graft_bpe` to be registered on the session
    * (`GraftFunctions.register` / the GraftExtensions conf line) — the
    * DataFrame-level [[tokenize]] below does it for you.
    */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    call_function("graft_bpe", text, lit(serializeMerges(merges)))

  /** df + a BPE token-array column (registers the expression first). */
  def tokenize(
      df: DataFrame,
      textCol: String,
      merges: Seq[(String, String)],
      outCol: String = "bpe_tokens"): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.withColumn(outCol, encode(col(textCol), merges))
  }
}
