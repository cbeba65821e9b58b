package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd fitted-model scoring ([EXT]) — the hot-path replacement for
  * the interpreted literal-map folds in UnigramLm/NaiveBayes.
  *
  * The HOF form (`aggregate(toks, acc + element_at(litMap, t))`) has two
  * scale problems: higher-order lambdas evaluate INTERPRETED
  * (CodegenFallback breaks the whole-stage span), and `element_at` on a
  * literal map is a LINEAR scan — O(vocab) comparisons per token probe.
  * These expressions keep the stage in WholeStageCodegen via the same
  * `addReferenceObj` pattern as [[BpeEncode]] and probe a real
  * `java.util.HashMap` parsed once per executor: O(1) per token,
  * 1000×-vocab independent.
  *
  * Arithmetic parity with the HOF forms is bit-exact: map values are the
  * SAME IEEE doubles the fold would compute per row (precomputed once at
  * fit time), and `a - ln(x)` ≡ `a + (-ln(x))` in IEEE 754, so swapping
  * an operator from the fold to the expression cannot change a DuckDB
  * hash-oracle result.
  *
  * Wire format (`ScoreTable.serialize`): one `token<TAB>value` line per
  * entry, `java.lang.Double.toString` values (exact round-trip through
  * `parseDouble`); the reserved EMPTY token carries the out-of-vocabulary
  * default (word tokens are never empty).
  */
object ScoreTable {

  val DefaultKey = ""

  /** Serialize a fitted (token → double) table plus the OOV default. */
  def serialize(entries: Iterable[(String, Double)], default: Double): String = {
    val sb = new StringBuilder
    sb.append(DefaultKey).append('\t')
      .append(java.lang.Double.toString(default)).append('\n')
    entries.foreach { case (t, v) =>
      require(!t.contains('\t') && !t.contains('\n'),
        s"score-table token contains a separator: '$t'")
      sb.append(t).append('\t')
        .append(java.lang.Double.toString(v)).append('\n')
    }
    sb.toString
  }

  private[plans] def parse(s: String): (java.util.HashMap[String, java.lang.Double], Double) = {
    val m = new java.util.HashMap[String, java.lang.Double]()
    var default = 0.0
    s.split("\n").foreach { line =>
      if (line.nonEmpty) {
        val tab = line.indexOf('\t')
        require(tab >= 0,
          s"malformed score-table line (no tab separator): '$line' — " +
            "tables must come from ScoreTable.serialize")
        val tok = line.substring(0, tab)
        val v = java.lang.Double.parseDouble(line.substring(tab + 1))
        if (tok == DefaultKey) default = v else m.put(tok, v)
      }
    }
    (m, default)
  }
}

/** `graft_map_sum(tokens, table)`: Σ over the token array of
  * `table.getOrElse(token, default)` — the shared apply kernel for
  * unigram-LM NLL (values = −ln(c/total)) and per-label Naive Bayes
  * (values = smoothed log-probs, default 0 for out-of-vocab).
  */
case class MapSumScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val toksOk = left.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    val tableOk = right.foldable && right.dataType == StringType &&
      right.eval() != null
    if (toksOk && tableOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, non-null string literal), " +
        s"got (${left.dataType.simpleString}, ${right.sql})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_map_sum"

  @transient private lazy val (table, default) =
    ScoreTable.parse(right.eval().toString)

  def score(toks: ArrayData): Double = {
    var sum = 0.0
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      // null elements (legal in array<string>, absent from any tokenizer
      // output) are SKIPPED, not NPE'd — they are not tokens
      if (!toks.isNullAt(i)) {
        val v = table.get(toks.getUTF8String(i).toString)
        sum += (if (v == null) default else v.doubleValue())
      }
      i += 1
    }
    sum
  }

  override protected def nullSafeEval(toks: Any, tab: Any): Any =
    score(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mapSum", this, classOf[MapSumScore].getName)
    nullSafeCodeGen(ctx, ev, (toks, _) => s"${ev.value} = $ref.score($toks);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MapSumScore =
    copy(left = newLeft, right = newRight)
}

/** `graft_bigram_nll(tokens, biTable, uniTable)`: Σ over adjacent pairs of
  * `−ln(bi.getOrElse(w1+" "+w2, 0) + uni.getOrElse(w2, uniDefault))`,
  * where the fitted tables carry PREMULTIPLIED interpolation terms
  * (bi value = λ·c12/c1, uni value = (1−λ)·c/total, uni default =
  * (1−λ)·1/total) so the kernel is two probes and one log per pair.
  * Returns the raw sum; the caller divides by the pair count and rounds.
  */
case class BigramNllSum(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val toksOk = first.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    val tablesOk = Seq(second, third).forall(e =>
      e.foldable && e.dataType == StringType && e.eval() != null)
    if (toksOk && tablesOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, string literal, string " +
        s"literal), got (${first.dataType.simpleString}, ${second.sql}, " +
        s"${third.sql})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_bigram_nll"

  @transient private lazy val (biTable, _) =
    ScoreTable.parse(second.eval().toString)
  @transient private lazy val (uniTable, uniDefault) =
    ScoreTable.parse(third.eval().toString)

  def score(toks: ArrayData): Double = {
    val n = toks.numElements()
    if (n < 2) return 0.0
    var sum = 0.0
    // null elements are skipped entirely (not tokens — same contract as
    // MapSumScore): the pair stream is over the non-null subsequence
    var i = 0
    var prev: String = null
    while (i < n && prev == null) {
      if (!toks.isNullAt(i)) prev = toks.getUTF8String(i).toString
      i += 1
    }
    if (prev == null) return 0.0
    while (i < n) {
      if (toks.isNullAt(i)) { i += 1 }
      else {
      val cur = toks.getUTF8String(i).toString
      val bi = biTable.get(prev + " " + cur)
      val biv = if (bi == null) 0.0 else bi.doubleValue()
      val un = uniTable.get(cur)
      val unv = if (un == null) uniDefault else un.doubleValue()
      sum += -java.lang.Math.log(biv + unv)
      prev = cur
      i += 1
      }
    }
    sum
  }

  override protected def nullSafeEval(toks: Any, bi: Any, uni: Any): Any =
    score(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bigramNll", this,
      classOf[BigramNllSum].getName)
    nullSafeCodeGen(ctx, ev,
      (toks, _, _) => s"${ev.value} = $ref.score($toks);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): BigramNllSum =
    copy(first = newFirst, second = newSecond, third = newThird)
}
