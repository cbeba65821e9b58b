package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.SketchHash

/** Vector math over `array<float>` embedding columns ([EXT], SURVEY.md §1.3
  * note on the `embeddings` fixture), expressed with higher-order array
  * built-ins (`zip_with` + `aggregate`) so the hot path stays in whole-stage
  * codegen — no UDF boundary, no boxing per element.
  *
  * All math is done in DOUBLE: inputs are float32, and a float32 dot product
  * accumulates ~1e-6 relative error over 64 dims — enough to flip a rounded
  * 4-decimal similarity. Casting the arrays up front makes Spark's
  * left-to-right fold bit-compatible with the DuckDB oracle's DOUBLE[] math.
  */
object VectorFunctions {

  /** Cast any numeric array to array<double>. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product (left-to-right fold, deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** Euclidean (L2) norm. */
  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0, 0.0).otherwise(dot(a, b) / denom)
  }

  /** Unit-normalize a vector (null-safe passthrough of zero vectors). */
  def normalize(v: Column): Column = {
    val n = l2Norm(v)
    when(n === 0, asDouble(v)).otherwise(transform(asDouble(v), x => x / n))
  }

  /** Deterministic pseudo-random hyperplane signs: bit j of the LSH sketch is
    * sign(Σ_d v[d] · h(j,d)) with h(j,d) = (pmod(hash(j, d), 2001) − 1000) /
    * 1000 — a reproducible surrogate for a Gaussian random projection, with
    * no stored projection matrix and no broadcast. The hash and the index
    * of the first dimension come from [[SketchHash]]: `XxHash64` (0-based)
    * is the reference form of the codegen `graft_lsh_bucket` kernel
    * (HyperplaneSketch, asserted equal in OperatorSpec); `Md5` (1-based, to
    * match SQL `generate_series`) is bit-identical in every engine, so the
    * bucket hash-compares against a DuckDB replay. Both engines fold the
    * projection left to right in list order, so the sign decision is
    * bit-identical too. The fold is interpreted (HOFs): sketch hot paths
    * call the kernel for `XxHash64` and checkpoint the `Md5` fold.
    */
  def lshBucket(v: Column, nBits: Int, hash: SketchHash): Column = {
    val dv = asDouble(v)
    val dims = sequence(lit(hash.dimBase), size(dv) + (hash.dimBase - 1))
    val bits = (0 until nBits).map { j =>
      val proj = aggregate(
        zip_with(dv, dims,
          (x, d) => x * ((pmod(hash.planeHash(j, d), lit(2001L)) - 1000L)
            .cast("double") / 1000.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Johnson–Lindenstrauss random projection with Rademacher (±1) signs:
    * out[j] = dot(v, s_j) / sqrt(outDims), the standard dimensionality
    * reduction before ANN indexing or clustering when the native
    * embedding width is too expensive to shuffle (a 64→8 projection cuts
    * candidate-join bytes 8× while approximately preserving pairwise
    * distances, by the JL lemma).
    *
    * The sign matrix is DETERMINISTIC — sign(j,d) = parity of the first
    * hex digit of md5("rp j d") (d 1-based) — and is materialized
    * driver-side as `outDims` literal double arrays, so every projection
    * component is one codegen `graft_dot` over the scan: no HOFs, no
    * shuffle, no fit job, reproducible on any cluster size, and
    * replayable in any engine that has md5 (the oracle recomputes the
    * same signs in SQL). Division by sqrt(outDims) is a division on both
    * engines (not a reciprocal multiply — the two round differently).
    */
  def randomProjectionMd5(v: Column, inDims: Int, outDims: Int): Column = {
    require(inDims > 0 && outDims > 0,
      s"dims must be positive, got in=$inDims out=$outDims")
    // Column-level helper: no DataFrame in scope, so resolve the kernel
    // registration against the active session (idempotent, like the
    // register() calls at every operator entry point).
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.plans.GraftFunctions.register)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, d: Int): Double = {
      val nibble = (md.digest(s"rp $j $d".getBytes("UTF-8"))(0) >> 4) & 0xF
      if (nibble % 2 == 0) 1.0 else -1.0
    }
    val dv = asDouble(v)
    val comps = (0 until outDims).map { j =>
      val signs = array((1 to inDims).map(d => lit(sign(j, d))): _*)
      call_function("graft_dot", dv, signs) / sqrt(lit(outDims.toDouble))
    }
    array(comps: _*)
  }
}
