package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the vector hot path (SURVEY.md §7.3: UDF
  * first, "promoted to Expression with codegen only on bench evidence" —
  * this is that promotion).
  *
  * Evidence: brute-force KNN at sf0.1 spent 125 s of a 151 s bench total in
  * the higher-order `zip_with`/`aggregate` folds, which Spark evaluates
  * interpreted (ArrayTransform/ArrayAggregate have no doGenCode), paying
  * per-element lambda dispatch ×3 folds ×4M pairs. `CosineSimilarity` fuses
  * dot product and both norms into ONE codegen'd loop over the raw
  * ArrayData, keeping the whole pair-scoring stage inside WholeStageCodegen.
  * Same left-to-right double accumulation and the same dot/(|a|·|b|)
  * operation sequence as DuckDB's list_cosine_similarity on DOUBLE[], so
  * oracled queries round identically (do NOT swap oracled paths to
  * normalize-then-dot: it perturbs per-element rounding by ~1e-14, enough
  * to flip a 4-decimal boundary on rare pairs).
  *
  * Arrays are treated as dense (null elements read as 0-bits), matching the
  * embeddings fixture and typical vector columns.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprChecks.requireDoubleArrays(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // ragged pair = corrupt ingest: fail fast with the lengths rather
    // than silently scoring the shared prefix (review finding — the
    // HOF form yielded null and the oracle engine errors; a silent
    // number is the one behavior nobody expects)
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: vector lengths differ " +
          s"(${x.numElements()} vs ${y.numElements()})")
    val n = x.numElements()
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
        if ($x.numElements() != $y.numElements())
          throw new IllegalArgumentException(
            "graft_cosine: vector lengths differ (" + $x.numElements() +
              " vs " + $y.numElements() + ")");
        final int $n = $x.numElements();
        double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          final double $xi = $x.getDouble($i);
          final double $yi = $y.getDouble($i);
          $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
        }
        final double $denom = Math.sqrt($nx) * Math.sqrt($ny);
        ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd dot product (same rationale as CosineSimilarity). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprChecks.requireDoubleArrays(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // ragged pair = corrupt ingest: fail fast with the lengths rather
    // than silently scoring the shared prefix (review finding — the
    // HOF form yielded null and the oracle engine errors; a silent
    // number is the one behavior nobody expects)
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: vector lengths differ " +
          s"(${x.numElements()} vs ${y.numElements()})")
    val n = x.numElements()
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
        if ($x.numElements() != $y.numElements())
          throw new IllegalArgumentException(
            "graft_dot: vector lengths differ (" + $x.numElements() +
              " vs " + $y.numElements() + ")");
        final int $n = $x.numElements();
        double $dot = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $dot += $x.getDouble($i) * $y.getDouble($i);
        }
        ${ev.value} = $dot;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd hyperplane-sign LSH sketch: bit j of the result is
  * sign(Σ_d v[d] · h(j,d)) with h(j,d) = (pmod(xxhash64(j,d), 2001) − 1000)
  * / 1000 — bit-identical to the reference implementation built from
  * `zip_with`/`aggregate`/`xxhash64` in
  * `graft.functions.VectorFunctions.lshBucket` under `SketchHash.XxHash64`
  * (asserted equal in OperatorSpec), but ~2 orders of magnitude faster: the
  * HOF pipeline is interpreted (ArrayTransform/ArrayAggregate have no
  * doGenCode) and pays per-element lambda dispatch plus a sequence()
  * allocation per bit, while
  * this is one fused loop of static XXH64 calls inside WholeStageCodegen.
  * That is the difference between sketching 100 TB in one pass and not.
  *
  * Spark's `xxhash64(lit(j), d)` on two int columns folds as
  * `hashInt(d, hashInt(j, seed=42))` (HashExpression chains children left
  * to right) — reproduced literally below.
  */
case class HyperplaneSketch(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val bitsOk = right match {
      case e if e.foldable && e.dataType == IntegerType =>
        val v = e.eval()
        v != null && v.asInstanceOf[Int] > 0 && v.asInstanceOf[Int] <= 63
      case _ => false
    }
    if (vecOk && bitsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, int literal in [1,63]), got " +
        s"(${left.dataType.simpleString}, ${right.sql})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  @transient private lazy val nBits: Int =
    right.eval().asInstanceOf[Int]

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    // reference parity: an empty vector (its fold degenerates to null via
    // the descending sequence) or any null element (null-propagating
    // products) zeroes EVERY bit in the HOF form — reproduce that here
    var degenerate = n == 0
    var d0 = 0
    while (!degenerate && d0 < n) {
      if (v.isNullAt(d0)) degenerate = true
      d0 += 1
    }
    if (degenerate) return 0L
    var bucket = 0L
    var j = 0
    while (j < nBits) {
      val seedJ = XXH64.hashInt(j, 42L)
      var proj = 0.0
      var d = 0
      while (d < n) {
        val h = XXH64.hashInt(d, seedJ)
        val m = ((h % 2001L) + 2001L) % 2001L
        proj += v.getDouble(d) * ((m - 1000L).toDouble / 1000.0)
        d += 1
      }
      if (proj >= 0) bucket |= 1L << j
      j += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xxh = classOf[XXH64].getName
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val seedJ = ctx.freshName("seedJ")
      val proj = ctx.freshName("proj")
      val h = ctx.freshName("h")
      val m = ctx.freshName("m")
      val bucket = ctx.freshName("bucket")
      val degenerate = ctx.freshName("degenerate")
      s"""
        final int $n = $v.numElements();
        long $bucket = 0L;
        boolean $degenerate = $n == 0;
        for (int $d = 0; !$degenerate && $d < $n; $d++) {
          if ($v.isNullAt($d)) $degenerate = true;
        }
        if (!$degenerate) {
          for (int $j = 0; $j < $nBits; $j++) {
            final long $seedJ = $xxh.hashInt($j, 42L);
            double $proj = 0.0;
            for (int $d = 0; $d < $n; $d++) {
              final long $h = $xxh.hashInt($d, $seedJ);
              final long $m = (($h % 2001L) + 2001L) % 2001L;
              $proj += $v.getDouble($d) * (((double) ($m - 1000L)) / 1000.0);
            }
            if ($proj >= 0) $bucket |= 1L << $j;
          }
        }
        ${ev.value} = $bucket;
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HyperplaneSketch =
    copy(left = newLeft, right = newRight)
}

private[plans] object VectorExprChecks {
  /** Both children must already be array<double> — callers cast explicitly
    * (AbstractDataType/ImplicitCastInputTypes are private[sql], so the
    * implicit-coercion route isn't open to external expressions).
    */
  def requireDoubleArrays(name: String, left: Expression,
      right: Expression): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
}

/** The ONE in-kernel definition of the bit-parity-critical rounded
  * cosine: dot/nx/ny accumulated LEFT TO RIGHT in a single loop,
  * `dot / (sqrt(nx)·sqrt(ny))` with zero denominator → 0.0, rounded via
  * `BigDecimal.valueOf(x).setScale(6, HALF_UP)` — exactly
  * [[CosineSimilarity]]'s operation sequence (which keeps its own copy
  * only because its codegen template inlines the loop as generated
  * Java). Every interpreted kernel that scores against a literal
  * codeword table ([[IvfCells]], [[PqCodes]], [[MmrSelect]]) calls
  * THIS, so a future rounding/guard tweak cannot silently fork the
  * cross-engine determinism contract (review finding: four verbatim
  * copies had accumulated). Callers validate lengths first with their
  * own messages.
  */
private[plans] object VecMath {
  def cosine6(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < a.length) {
      val xi = a(i); val yi = b(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    finish(dot, nx, ny)
  }

  /** Cosine of `v[off, off + w.length)` against `w`. */
  def cosine6Window(v: ArrayData, off: Int, w: Array[Double]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < w.length) {
      val xi = v.getDouble(off + i); val yi = w(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    finish(dot, nx, ny)
  }

  private def finish(dot: Double, nx: Double, ny: Double): Double = {
    val denom = math.sqrt(nx) * math.sqrt(ny)
    val cos = if (denom == 0.0) 0.0 else dot / denom
    java.math.BigDecimal.valueOf(cos)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** `graft_ivf_cells(vec, centroidsLit)`: the SORTED (negS, c) IVF cell
  * array in ONE fused codegen pass — kernel replacement for
  * `array_sort(array(struct(-round(graft_cosine(v, c0), 6), 0L), ...))`.
  *
  * Why: `array_sort` is a higher-order function and evaluates
  * INTERPRETED (CodegenFallback), and annIvf's three consumers each
  * re-evaluated the whole sorted-array expression per row; the nCells
  * per-centroid literal arrays were also inlined THREE times into the
  * plan, which is what AQE re-canonicalizes on every stage submission.
  * This kernel carries the centroid table as ONE string literal parsed
  * once per executor (the [[MapSumScore]] pattern) and computes
  * cosine → round(6) → negate → sort in a tight loop.
  *
  * Bit-parity contract (pinned by an OperatorSpec kernel≡expression
  * ScalaCheck spec and the q_ann_ivf_md5 / q_kmeans hash oracles):
  *  - cosine accumulates dot/nx/ny left-to-right in one loop and
  *    divides by sqrt(nx)·sqrt(ny), exactly like [[CosineSimilarity]]
  *    (zero denominator → 0.0);
  *  - rounding is Spark Round's double path —
  *    `BigDecimal.valueOf(x).setScale(6, HALF_UP).doubleValue()` —
  *    negated AFTER rounding like the expression form;
  *  - the sort is ascending (negS, c) via `java.lang.Double.compare` /
  *    `Long.compare`, Spark's lexicographic struct ordering.
  * Centroids serialize via `Double.toString` (shortest round-trip
  * representation), so the literal is value-exact.
  */
case class IvfCells(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val centOk = right.foldable && right.dataType == StringType &&
      right.eval() != null
    if (vecOk && centOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, non-null string literal), " +
        s"got (${left.dataType.simpleString}, ${right.sql})")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("negS", DoubleType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_ivf_cells"

  @transient private lazy val centroids: Array[Array[Double]] =
    right.eval().toString.split(';').map(_.split(',').map(_.toDouble))

  def compute(vecRaw: Any): ArrayData = {
    val v = vecRaw.asInstanceOf[ArrayData]
    val n = v.numElements()
    val cells = new Array[(Double, Long)](centroids.length)
    var ci = 0
    while (ci < centroids.length) {
      val c = centroids(ci)
      if (c.length != n)
        throw new IllegalArgumentException(
          s"$prettyName: vector lengths differ (${c.length} vs $n)")
      val r = VecMath.cosine6Window(v, 0, c)
      cells(ci) = (-r, ci.toLong)
      ci += 1
    }
    java.util.Arrays.sort(cells, new java.util.Comparator[(Double, Long)] {
      override def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val d = java.lang.Double.compare(a._1, b._1)
        if (d != 0) d else java.lang.Long.compare(a._2, b._2)
      }
    })
    new GenericArrayData(cells.map { case (s, c) =>
      new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](s, c))
    })
  }

  override protected def nullSafeEval(vec: Any, cent: Any): Any = compute(vec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("iver", this, classOf[IvfCells].getName)
    nullSafeCodeGen(ctx, ev, (vec, _) => s"${ev.value} = $ref.compute($vec);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfCells =
    copy(left = newLeft, right = newRight)
}

/** `graft_residual(vec, centroidsLit, cell)`: `vec − centroids(cell)` in one
  * codegen pass — the residual a document carries into product quantization
  * under its coarse IVF cell (IvfPq). Kernel instead of
  * `zip_with(v, element_at(lit, cell+1), _ - _)` for the same two reasons as
  * [[IvfCells]]: `zip_with` is a higher-order function (interpreted
  * CodegenFallback, breaking the encode stage's WholeStageCodegen span) and
  * the per-cell literal table would otherwise inline as nCells arrays that
  * AQE re-canonicalizes per stage. The centroid table rides as ONE string
  * literal parsed once per executor (the [[IvfCells]]/[[MapSumScore]]
  * pattern; `Double.toString` is shortest-round-trip, so it is value-exact).
  *
  * Oracle replay: plain element-wise double subtraction — DuckDB's
  * `list_transform(range(1, dim+1), i -> v[i] - cv[i])` produces
  * bit-identical doubles, so downstream round-6 code argmaxes agree.
  * A cell index outside the table or a length mismatch fails fast
  * (corrupt assignment, never a silently-truncated residual).
  */
case class VecResidual(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = first.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val centOk = second.foldable && second.dataType == StringType &&
      second.eval() != null
    val cellOk = third.dataType == LongType
    if (vecOk && centOk && cellOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, non-null string literal, " +
        s"bigint), got (${first.dataType.simpleString}, ${second.sql}, " +
        s"${third.dataType.simpleString})")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_residual"

  @transient private lazy val centroids: Array[Array[Double]] =
    second.eval().toString.split(';').map(_.split(',').map(_.toDouble))

  def compute(vecRaw: Any, cellRaw: Any): ArrayData = {
    val v = vecRaw.asInstanceOf[ArrayData]
    val cell = cellRaw.asInstanceOf[Long]
    if (cell < 0 || cell >= centroids.length)
      throw new IllegalArgumentException(
        s"$prettyName: cell $cell outside centroid table " +
          s"(${centroids.length} cells)")
    val c = centroids(cell.toInt)
    val n = v.numElements()
    if (c.length != n)
      throw new IllegalArgumentException(
        s"$prettyName: vector lengths differ (${c.length} vs $n)")
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = v.getDouble(i) - c(i); i += 1 }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(vec: Any, cent: Any, cell: Any): Any =
    compute(vec, cell)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vres", this, classOf[VecResidual].getName)
    nullSafeCodeGen(ctx, ev,
      (vec, _, cell) => s"${ev.value} = $ref.compute($vec, $cell);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): VecResidual =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `graft_pq_codes(vec, codebooksLit)`: all `m` product-quantization code
  * argmaxes in ONE fused loop — kernel replacement for the expression form
  * `array(subspaceArgmax(slice(v, …), codebook_0), …)` (per subspace an
  * `array_max` over k `round(graft_cosine(slice, lit), 6)` structs).
  *
  * Why: with m·k = 32 codeword literals the expression form's generated
  * `processNext` exceeds the JIT's huge-method limit, so the encode stage
  * executes in the BYTECODE INTERPRETER — profiled at 2.3 s of task CPU
  * for a 2000-row × 40-cosine pass that is arithmetically microseconds
  * (q_ivfpq_codes 2.9 s → this kernel; q_pq_codes had carried the same
  * tax). The codebooks ride as ONE string literal parsed once per
  * executor (the [[IvfCells]] pattern).
  *
  * Bit-parity contract (pinned by PqSpec's kernel≡expression property and
  * the q_pq_codes / q_ann_pq_md5 / q_ivfpq_codes hash oracles):
  *  - per (subspace, codeword): cosine over the subspace WINDOW of the
  *    vector, dot/nx/ny accumulated left-to-right exactly like
  *    [[CosineSimilarity]] (zero denominator → 0.0), rounded via
  *    `BigDecimal.valueOf(x).setScale(6, HALF_UP)`;
  *  - argmax per subspace: strictly-greater update scanning codes
  *    ascending = ties to the smaller code, the expression form's
  *    max-of-(s, −c)-structs order.
  * Literal format: subspaces joined by '|', codewords by ';', dims by ','
  * (`Double.toString` shortest-round-trip, value-exact).
  */
case class PqCodes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val cbOk = right.foldable && right.dataType == StringType &&
      right.eval() != null
    if (vecOk && cbOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, non-null string literal), " +
        s"got (${left.dataType.simpleString}, ${right.sql})")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_codes"

  @transient private lazy val codebooks: Array[Array[Array[Double]]] =
    right.eval().toString.split('|')
      .map(_.split(';').map(_.split(',').map(_.toDouble)))

  def compute(vecRaw: Any): ArrayData = {
    val v = vecRaw.asInstanceOf[ArrayData]
    val m = codebooks.length
    val sub = codebooks.head.head.length
    if (v.numElements() != m * sub)
      throw new IllegalArgumentException(
        s"$prettyName: vector length ${v.numElements()} != m*sub " +
          s"(${m} * ${sub})")
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      val off = j * sub
      var best = Double.NegativeInfinity
      var bestC = 0L
      var c = 0
      while (c < cb.length) {
        val s = VecMath.cosine6Window(v, off, cb(c))
        if (s > best) { best = s; bestC = c.toLong }
        c += 1
      }
      out(j) = bestC
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(vec: Any, cb: Any): Any = compute(vec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqcr", this, classOf[PqCodes].getName)
    nullSafeCodeGen(ctx, ev, (vec, _) => s"${ev.value} = $ref.compute($vec);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqCodes =
    copy(left = newLeft, right = newRight)
}

/** Session registration for the custom expressions (temp functions, usable
  * from `expr(...)` / SQL). Idempotent. `all` is the single source of truth,
  * shared with [[GraftExtensions]] so per-session registration and
  * cluster-wide extension installation can't drift.
  */
object GraftFunctions {
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" ->
      ((exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))),
    "graft_dot" ->
      ((exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))),
    "graft_vector_avg" ->
      ((exprs: Seq[Expression]) => VectorAvg(exprs.head).toAggregateExpression()),
    "graft_topk" ->
      ((exprs: Seq[Expression]) =>
        TopKByScore(exprs(0), exprs(1), exprs(2)).toAggregateExpression()),
    "graft_mmr" ->
      ((exprs: Seq[Expression]) =>
        MmrSelect(exprs(0), exprs(1), exprs(2), exprs(3), exprs(4))
          .toAggregateExpression()),
    "graft_collect_capped" ->
      ((exprs: Seq[Expression]) =>
        CollectCapped(exprs(0), exprs(1)).toAggregateExpression()),
    "graft_collect_pairs_capped" ->
      ((exprs: Seq[Expression]) =>
        CollectPairsCapped(exprs(0), exprs(1), exprs(2))
          .toAggregateExpression()),
    "graft_pair_gen" ->
      ((exprs: Seq[Expression]) => PairsGenerator(exprs(0))),
    "graft_ivf_cells" ->
      ((exprs: Seq[Expression]) => IvfCells(exprs(0), exprs(1))),
    "graft_residual" ->
      ((exprs: Seq[Expression]) => VecResidual(exprs(0), exprs(1), exprs(2))),
    "graft_pq_codes" ->
      ((exprs: Seq[Expression]) => PqCodes(exprs(0), exprs(1))),
    "graft_lsh_bucket" ->
      ((exprs: Seq[Expression]) => HyperplaneSketch(exprs(0), exprs(1))),
    "graft_bpe" ->
      ((exprs: Seq[Expression]) => BpeEncode(exprs(0), exprs(1))),
    "graft_map_sum" ->
      ((exprs: Seq[Expression]) => MapSumScore(exprs(0), exprs(1))),
    "graft_shingles" ->
      ((exprs: Seq[Expression]) => ShingleArray(exprs(0), exprs(1))),
    "graft_tokens" ->
      ((exprs: Seq[Expression]) => TokenizeAscii(exprs(0))),
    "graft_minhash" ->
      ((exprs: Seq[Expression]) => MinhashSig(exprs(0), exprs(1))),
    "graft_lsh_bands" ->
      ((exprs: Seq[Expression]) => LshBandKeys(exprs(0), exprs(1), exprs(2))),
    "graft_minhash_md5" ->
      ((exprs: Seq[Expression]) => Md5MinhashSig(exprs(0), exprs(1))),
    "graft_lsh_bands_md5" ->
      ((exprs: Seq[Expression]) => Md5BandKeys(exprs(0), exprs(1), exprs(2))),
    "graft_winnow" ->
      ((exprs: Seq[Expression]) => WinnowSelect(exprs(0), exprs(1))),
    "graft_cms_atleast" ->
      ((exprs: Seq[Expression]) => CmsAtLeast(exprs(0), exprs(1), exprs(2))),
    "graft_strip_lines" ->
      ((exprs: Seq[Expression]) => StripLines(exprs(0), exprs(1))),
    "graft_bigram_nll" ->
      ((exprs: Seq[Expression]) =>
        BigramNllSum(exprs(0), exprs(1), exprs(2))),
    // Spark's own runtime-filter expressions, surfaced for explicit use
    // (InjectRuntimeFilter builds them internally; they have no SQL name)
    "graft_bloom_agg" ->
      ((exprs: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
          .toAggregateExpression()),
    "graft_might_contain" ->
      ((exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(exprs(0), exprs(1))),
    "graft_bloom_any" ->
      ((exprs: Seq[Expression]) =>
        BloomAnyContain(BinaryBlob.fromLiteral(exprs(0)), exprs(1))))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    // the optional index-aware top-k rewrite rides the same session
    // bootstrap (it no-ops in one conf read unless its flag is on, and
    // its own guard makes double application safe — but don't even
    // double-install on repeated register() calls)
    val rules = spark.experimental.extraOptimizations
    if (!rules.exists(_.isInstanceOf[IndexTopKRule]))
      spark.experimental.extraOptimizations = rules :+ IndexTopKRule(spark)
  }
}

/** Spark-native deployment path for the custom expressions: install with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `builder.withExtensions`) and every session on the cluster gets the
  * graft_* functions at build time — no per-session register() call, which
  * is the difference between a library a 1000-executor deployment can adopt
  * via one conf line and one that needs code changes at every call site.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(this.getClass.getName, name),
        builder))
    }
    // flag-gated (default off) index-aware top-k; this injection point
    // runs in a FIXED-POINT batch — the rule's already-filtered guard is
    // what makes that safe
    ext.injectOptimizerRule(IndexTopKRule)
  }
}
