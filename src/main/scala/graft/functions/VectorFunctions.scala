package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns.
  *
  * Floats are widened to double BEFORE any arithmetic, and accumulation is
  * a sequential left fold — both properties make results bit-identical to
  * a straightforward loop in any other engine (the oracle requirement).
  *
  * `dot` is the native codegen'd [[graft.functions.expr.VecDot]] expression
  * (higher-order-function lambdas are evaluated interpreted in Spark — too
  * slow for per-pair similarity math); [[dotComposed]] keeps the pure
  * built-in form, and `VecDotSpec` proves them bit-identical. */
object VectorFunctions {

  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential dot product of two equal-length vectors (native codegen'd
    * expression; registered by GraftExtensions). */
  def dot(a: Column, b: Column): Column =
    graft.functions.expr.VecDot(a, b)

  /** The same fold composed from built-in higher-order functions — the
    * cross-engine-readable reference form of [[dot]]. */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), _ * _),
      lit(0.0), (acc, x) => acc + x)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Largest |component| — the symmetric-quantization scale. Max is
    * order-independent, so this is safe under any partitioning. */
  def absMax(v: Column): Column = array_max(transform(toDouble(v), abs(_)))

  /** Symmetric int8 quantization against a precomputed scale: each
    * component → round(127·x/scale) ∈ [-127,127] (|x| ≤ scale by
    * construction, so no clamp is needed). Elementwise double math — no
    * accumulation — so results are bit-identical on any engine/cluster.
    * The caller guards scale = 0 (the all-zero vector). At 100 TB this is
    * the 4× storage/bandwidth reduction step before ANN indexing. */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(toDouble(v), x => round(x * 127.0d / scale).cast("int"))

  /** Cosine similarity; null when either norm is zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, lit(null).cast("double"))
      .otherwise(d / (na * nb))
  }

  /** `bits`-bit coordinate-hyperplane sign band: bit i is set when
    * `v[off+i] >= 0`. The axis-aligned member of the [[lshBucket]] family,
    * chosen when the bucket id must be reproducible in ANSI SQL (x69 uses
    * two of these as LSH bands; sign bits survive float→double widening
    * exactly, so the band — and the candidate set — is engine-identical). */
  def signBand(v: Column, off: Int, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(v, off + i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Sign-bit LSH bucket for a vector: h pseudo-random hyperplanes whose
    * components are derived deterministically from md5(seed:plane:dim) —
    * reproducible across runs and engines, no RNG state. The bucket id is
    * the h-bit sign pattern of the projections. Vectors in the same bucket
    * are ANN candidates; at scale this turns an O(N²) search into a
    * bucket-local join. */
  def lshBucket(v: Column, planes: Int, dims: Int, seed: Int = 42): Column = {
    val dv = toDouble(v)
    val bits = (0 until planes).map { p =>
      // hyperplane component c_pd in [-1,1): from the first 8 md5 hex chars
      val proj = (0 until dims).map { d =>
        val h = conv(lit(md5Hex(s"$seed:$p:$d").substring(0, 8)), 16, 10)
          .cast("long")
        val coef = (h.cast("double") / lit(2147483648.0)) - 1.0
        element_at(dv, d + 1) * coef
      }.reduce(_ + _)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }
}
