package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot sketch/similarity paths
  * (SURVEY.md §7.2: "custom Expression beats a Scala UDF beats anything
  * else"). Both are single-pass over the input with no intermediate array
  * materialization — unlike their higher-order-function equivalents in
  * DedupOps/Similarity, which build a 64-element lambda tree per token
  * (simhash) or zip arrays (cosine). Codegen emits a direct static call.
  */
object SimHash64Impl {
  /** Matches the HOF construction exactly: tokens = split(trim(s), "\\s+"),
    * token hash = xxhash64(token) (seed 42 over UTF-8 bytes), bit i weight =
    * +1 if hash bit i set else -1, signature bit i = (weight sum > 0).
    */
  def compute(s: UTF8String): Long = {
    val tokens = s.toString.trim.split("\\s+")
    val counts = new Array[Int](64)
    var t = 0
    while (t < tokens.length) {
      val utf8 = UTF8String.fromString(tokens(t))
      val h = XXH64.hashUnsafeBytes(utf8.getBaseObject, utf8.getBaseOffset, utf8.numBytes(), 42L)
      var i = 0
      while (i < 64) {
        counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      t += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }
}

/** simhash64(text): 64-bit SimHash of the whitespace token stream. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires a string argument, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    SimHash64Impl.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.SimHash64Impl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object MinHashSigImpl {
  /** One-pass MinHash signature: tokenize, build distinct word shingles,
    * hash each once, track k per-family minima. Matches the HOF pipeline
    * `array_min(transform(hs, h -> xxhash64(j, h)))` over
    * `array_distinct(wordShingles(text, n))` exactly: shingle hash =
    * xxhash64 bytes seed 42; family j hash = hashLong(h, hashInt(j, 42)).
    */
  def compute(s: UTF8String, n: Int, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val tokens = s.toString.trim.split("\\s+")
    val m = math.max(tokens.length - n, 0)
    val seen = new java.util.HashSet[String]()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i <= m) {
      val end = math.min(i + n, tokens.length)
      val sh = tokens.slice(i, end).mkString(" ")
      if (seen.add(sh)) {
        val u = UTF8String.fromString(sh)
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
        var j = 0
        while (j < k) {
          val hj = XXH64.hashLong(h, XXH64.hashInt(j, 42L))
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** minhash_sig(text, shingleWords, k): MinHash signature as array<long>. */
case class MinHashSig(child: Expression, shingleWords: Int, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires a string argument, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    MinHashSigImpl.compute(v.asInstanceOf[UTF8String], shingleWords, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.MinHashSigImpl.compute($c, $shingleWords, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object ShingleHashSetImpl {
  /** One-pass distinct hashed word shingles. Matches the HOF pipeline
    * `array_distinct(transform(wordShingles(text, n), s -> xxhash64(s)))`
    * exactly: tokens = split(trim(s), "\\s+"), shingle = n consecutive
    * tokens joined by " ", hash = xxhash64 (seed 42) over UTF-8 bytes,
    * distinct keeps first occurrence order. The HOF tree evaluates
    * interpreted (ArrayTransform is CodegenFallback) at ~40µs/shingle —
    * this compiles to a direct static call inside whole-stage codegen.
    */
  def compute(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val tokens = s.toString.trim.split("\\s+")
    val m = math.max(tokens.length - n, 0)
    val seen = new java.util.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](m + 1)
    var i = 0
    while (i <= m) {
      val end = math.min(i + n, tokens.length)
      val sh = tokens.slice(i, end).mkString(" ")
      val u = UTF8String.fromString(sh)
      val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
      if (seen.add(h)) out += h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** shingle_hashes(text, n): distinct xxhash64'd n-word shingles as array<long>. */
case class ShingleHashSet(child: Expression, shingleWords: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes requires a string argument, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    ShingleHashSetImpl.compute(v.asInstanceOf[UTF8String], shingleWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.ShingleHashSetImpl.compute($c, $shingleWords)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashSet =
    copy(child = newChild)
}

object CharNgramsImpl {
  /** One-pass character n-grams. Matches the HOF pipeline
    * `transform(sequence(1, length(text)-(n-1)), i -> substr(text, i, n))`
    * exactly — `substringSQL` is the same call the Substring expression
    * makes, so character (not byte) semantics are identical.
    */
  def compute(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val m = s.numChars() - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      out(i) = s.substringSQL(i + 1, n)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** char_ngrams(text, n): all character n-grams as array<string>. */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"char_ngrams requires a string argument, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    CharNgramsImpl.compute(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.CharNgramsImpl.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

object SrpSignatureImpl {
  /** One-pass sign-random-projection signature over hyperplane rows
    * [offset, offset + bits). Bit-parity twin of the HOF construction
    * kept in the specs (`HofTwins.srpSignature`): hyperplane component (i, j) =
    * pmod(xxhash64(i, j), 1e6)/1e6 - 0.5 where `xxhash64(i, j)` folds int
    * args sequentially from seed 42 (hashInt(j, hashInt(i, 42))); dot runs
    * in double, element order; result bit (i - offset) set iff the dot for
    * hyperplane row i is > 0. The offset makes the hyperplane family
    * unbounded — LSH banding at corpus scale needs bandBits·nBands total
    * bits well past the 63 one long can hold, so each band computes its own
    * word from its own hyperplane rows. The HOF tree is CodegenFallback
    * (interpreted) — at 100k+ vectors the signature pass dominates
    * wall-clock without this compiled form.
    */
  /** Hyperplane rows are row-INDEPENDENT (pure functions of (i, j)), so
    * they are materialized once per (bits, offset, dim) per executor JVM and
    * the per-row work is pure multiply-adds. Without this, a 77-band × 21-bit
    * banding over 100k 64-dim vectors evaluates ~10^10 xxhash calls
    * (measured: the cache cuts the stress signature pass by an order of
    * magnitude). Memory: bits·dim doubles per key — KBs, bounded by the
    * handful of (banding, dim) configs a job uses.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  private def planes(bits: Int, offset: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((bits, offset, dim), { _ =>
      val a = new Array[Double](bits * dim)
      var i = 0
      while (i < bits) {
        val seedI = XXH64.hashInt(offset + i, 42L)
        var j = 0
        while (j < dim) {
          val h = XXH64.hashInt(j, seedI)
          val m = h % 1000000L
          val pm = if (m < 0) m + 1000000L else m
          a(i * dim + j) = pm.toDouble / 1000000.0 - 0.5
          j += 1
        }
        i += 1
      }
      a
    })

  def compute(vec: ArrayData, bits: Int, offset: Int): Long = {
    val n = vec.numElements()
    val pl = planes(bits, offset, n)
    var sig = 0L
    var i = 0
    while (i < bits) {
      var d = 0.0
      var j = 0
      val row = i * n
      while (j < n) {
        d += vec.getFloat(j).toDouble * pl(row + j)
        j += 1
      }
      if (d > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }
}

/** srp_signature(vec, bits, offset): SRP-LSH sign bits of an array<float>
  * for hyperplane rows [offset, offset + bits), packed into a long.
  */
case class SrpSignature(child: Expression, bits: Int, offset: Int = 0)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"srp_signature requires an array<float> argument, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    SrpSignatureImpl.compute(v.asInstanceOf[ArrayData], bits, offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.SrpSignatureImpl.compute($c, $bits, $offset)")

  override protected def withNewChildInternal(newChild: Expression): SrpSignature =
    copy(child = newChild)
}

object CosineSimilarityImpl {
  /** Double-precision cosine over two float arrays, element-order folds —
    * bit-identical to `Similarity.cosine`'s aggregate(zip_with(...)) chain
    * (0.0 + x0*y0 + x1*y1 + ... in input order).
    */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** cosine_sim(a, b): cosine similarity of two array<float> embeddings. */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires two array<float> arguments, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarityImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.CosineSimilarityImpl.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

object L2SqDistancesImpl {
  /** Squared-L2 distance from one vector to each centroid row, double
    * precision, element-order folds — bit-identical to the HOF chain
    * `aggregate(zip_with(vec, lit(c), (x, cv) => (x-cv)*(x-cv)), 0.0, +)`
    * per centroid (the spec twin `HofTwins.distances`). The input vector
    * is read once into a local double[] so the k centroid loops run over primitive
    * arrays instead of k× ArrayData accessor dispatch. A vector/centroid
    * dimension mismatch THROWS (a loud usage error) — silently truncating
    * would turn an upstream dimension bug into plausible wrong distances,
    * and the HOF twin's null there is equally silent once an argmin eats it.
    */
  def compute(vec: ArrayData, isFloat: Boolean,
      centroids: Array[Array[Double]]): ArrayData = {
    val n = vec.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      v(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    val out = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val cen = centroids(c)
      if (cen.length != n)
        throw new IllegalArgumentException(
          s"l2sq_distances: vector has $n elements but centroid $c has ${cen.length}")
      val m = n
      var acc = 0.0
      var j = 0
      while (j < m) {
        val d = v(j) - cen(j)
        acc += d * d
        j += 1
      }
      out(c) = acc
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** l2sq_distances(vec): squared-L2 distances to a plan-time centroid matrix
  * — the k-means assignment kernel (argmin feeds off the returned array).
  * A native expression because the HOF formulation is CodegenFallback
  * (higher-order functions never codegen): k interpreted lambda-tree
  * evaluations per row dominated the kmeans-family queries' wall-clock.
  *
  * The centroid matrix is a `Seq[Seq[Double]]` (not arrays) so the case
  * class keeps value-based `equals`/`hashCode` — reference-equal-only
  * arrays would defeat expression canonicalization and common-subexpression
  * elimination for two structurally identical calls.
  */
case class L2SqDistances(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  @transient private lazy val centroidMatrix: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _)
        if centroids.nonEmpty =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"l2sq_distances requires array<float>/array<double> and a non-empty centroid matrix, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    L2SqDistancesImpl.compute(v.asInstanceOf[ArrayData], elemIsFloat, centroidMatrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroidMatrix, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.L2SqDistancesImpl.compute($c, $elemIsFloat, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): L2SqDistances =
    copy(child = newChild)
}

object MatVecImpl {
  /** out(r) = rows(r) · vec, double accumulation in element order (the
    * repo's bit-determinism rule). Dimension mismatch throws loudly —
    * L2SqDistancesImpl's contract.
    */
  def compute(vec: ArrayData, isFloat: Boolean,
      rows: Array[Array[Double]]): ArrayData = {
    val n = vec.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      x(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    val out = new Array[Double](rows.length)
    var r = 0
    while (r < rows.length) {
      val row = rows(r)
      if (row.length != n)
        throw new IllegalArgumentException(
          s"graft_matvec: vector has $n elements but row $r has ${row.length}")
      var acc = 0.0
      var j = 0
      while (j < n) { acc += row(j) * x(j); j += 1 }
      out(r) = acc
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** graft_matvec(vec): the plan-time matrix times the row's vector — the
  * OPQ rotation kernel (an orthogonal rotation applied before subspace
  * splitting). Native for the same reason as [[L2SqDistances]]: the HOF
  * formulation is CodegenFallback AND bakes dim² literals into the plan
  * tree (a 64×64 rotation measured a 28 MiB task binary); here the matrix
  * rides one broadcast reference object. Matrix kept as `Seq[Seq[Double]]`
  * for value-based equality (canonicalization/CSE — L2SqDistances' note).
  */
case class MatVec(child: Expression, matrix: Seq[Seq[Double]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  @transient private lazy val rows: Array[Array[Double]] =
    matrix.map(_.toArray).toArray
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) if matrix.nonEmpty =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_matvec requires array<float>/array<double> and a non-empty matrix, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    MatVecImpl.compute(v.asInstanceOf[ArrayData], elemIsFloat, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matrix", rows, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.MatVecImpl.compute($c, $elemIsFloat, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): MatVec =
    copy(child = newChild)
}

object NfcNormalizeImpl {
  /** Unicode NFC (canonical composition, UAX#15) via the JDK's ICU-derived
    * Normalizer. Already-normalized text (the overwhelming common case) is
    * detected with the quick-check and returned without allocation.
    */
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** graft_nfc(text): Unicode canonical composition — the normalization pass
  * that makes dedup/fingerprinting see `é` and `e`+COMBINING ACUTE as the
  * same document. Codegen'd single static call, no UDF.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_nfc requires a string argument, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    NfcNormalizeImpl.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.NfcNormalizeImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object IcuLowerImpl {
  /** Spark's `lower` under UTF8_BINARY collation with ICU case mapping
    * (`spark.sql.icu.caseMappings.enabled`, on by default): full-ASCII
    * input lower-cases byte by byte, anything else goes through ICU's
    * Unicode mapping of the valid string (invalid UTF-8 becomes U+FFFD),
    * so `İ`, final sigma and `ẞ` map exactly as Spark maps them. Spark's
    * own path runs through `CollationAwareUTF8String`, whose static
    * initializer fills a title-case table for every code point — about
    * 1.5 s of one executor thread on the first lowered row of a JVM.
    */
  def compute(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toLowerCase(s.toValidString))
}

/** Spark's `lower` (see [[IcuLowerImpl]]) without the collation layer's
  * class initialization. Codegen'd single static call, no UDF.
  */
case class IcuLower(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lower requires a UTF8_BINARY string argument, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    IcuLowerImpl.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.IcuLowerImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): IcuLower =
    copy(child = newChild)
}

object DeflateRatioImpl {
  /** DEFLATE-compressed size over raw UTF-8 size — the classical
    * compressibility quality signal (Rae et al., Gopher, 2021: natural
    * prose sits in a mid band; boilerplate/templated spam compresses FAR
    * better, random/binary junk barely at all). Raw-deflate (no zlib
    * header/checksum) so the 6-byte framing never pollutes the signal;
    * empty text reads 1.0 (nothing to judge). Deterministic: zlib output
    * is a pure function of (bytes, level, strategy) — the gate pins
    * repartition-invariance.
    */
  def compute(s: UTF8String, level: Int): Double = {
    val raw = s.getBytes
    if (raw.length == 0) return 1.0
    val d = new java.util.zip.Deflater(level, true)
    try {
      d.setInput(raw)
      d.finish()
      val buf = new Array[Byte](8192)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      n.toDouble / raw.length
    } finally d.end()
  }
}

/** graft_deflate_ratio(text[, level]): DEFLATE bytes / raw UTF-8 bytes. */
case class DeflateRatio(child: Expression, level: Int)
    extends UnaryExpression {
  require(level >= 1 && level <= 9, s"deflate level in [1,9], got $level")
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_deflate_ratio requires a string argument, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    DeflateRatioImpl.compute(v.asInstanceOf[UTF8String], level)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.DeflateRatioImpl.compute($c, $level)")

  override protected def withNewChildInternal(newChild: Expression): DeflateRatio =
    copy(child = newChild)
}

object BlockAHashImpl {
  /** Blockwise average-hash over raw payload bytes: the byte stream is cut
    * into 64 equal spans (block i covers [i*n/64, (i+1)*n/64)), bit i is set
    * iff block i's mean byte value strictly exceeds the global mean. All
    * comparisons are exact integer cross-multiplications
    * (`sum_i * n > total * count_i`) so there is no float rounding to drift
    * from the DuckDB oracle's re-derivation. The 64 bits are returned as
    * four big-endian 16-bit sub-bands (bit 0 of the hash = MSB of band 0) —
    * the exact shape banded near-dup wants, with no sign-bit trap a packed
    * signed int64 would carry across engines. Empty payloads hash to all
    * zeros; payloads are bounded by `sum*n` staying in int64 (n < ~190 MB
    * per value — far above any realistic single media payload).
    */
  def compute(payload: Array[Byte]): ArrayData = {
    val n = payload.length
    val bands = new Array[Int](4)
    if (n > 0) {
      var total = 0L
      var i = 0
      while (i < n) { total += (payload(i) & 0xFF); i += 1 }
      var blk = 0
      while (blk < 64) {
        val lo = (blk.toLong * n / 64).toInt
        val hi = ((blk + 1).toLong * n / 64).toInt
        if (hi > lo) {
          var s = 0L
          var j = lo
          while (j < hi) { s += (payload(j) & 0xFF); j += 1 }
          if (s * n > total * (hi - lo)) bands(blk >> 4) |= (1 << (15 - (blk & 15)))
        }
        blk += 1
      }
    }
    ArrayData.toArrayData(bands)
  }
}

/** graft_ahash_bands(payload): 64-bit blockwise perceptual fingerprint of a
  * binary column as four 16-bit sub-bands — the multimodal analogue of
  * [[SimHash64]] (text) and [[SrpSignature]] (embeddings). Decode-free by
  * design: it reads the payload bytes directly, so it works on any modality
  * and needs no native media libraries; near-identical payloads (a re-encode
  * that perturbs a few bytes, a metadata retag) land within a small Hamming
  * distance. Codegen'd single static call, no UDF.
  */
case class BlockAHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_ahash_bands requires a binary argument, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    BlockAHashImpl.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.BlockAHashImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): BlockAHash =
    copy(child = newChild)
}

object ContentExtractImpl {
  /** Line-density main-content extraction over one document, single pass:
    * split on '\n' (keeping empty trailing lines, same as the engines'
    * `split`/`string_split`), keep a line iff
    *   - its character (codepoint) count is >= minLen, and
    *   - its UNICODE letter-or-digit codepoint count clears minAlnumPct
    *     percent of the line (`100 * alnum >= minAlnumPct * chars`, exact
    *     integer cross-multiplication — no float ratio),
    * then rejoin the keepers with '\n'. Short pipe-navigation rows,
    * separator rules and footer chrome fail one of the two tests; prose
    * passes both. This is the WITHIN-document complement of the cross-corpus
    * boilerplate operators (TextPipeline.dedupLines removes lines frequent
    * ACROSS documents) — a readability/trafilatura-class heuristic reduced
    * to deterministic, cross-engine-reproducible arithmetic.
    *
    * The density test counts `Character.isLetterOrDigit` over CODEPOINTS
    * (Unicode categories L* and Nd — mirrored cross-engine by the RE2
    * class `[\pL\p{Nd}]`, the t83/t93 regex-parity playbook), NOT ASCII
    * `[a-zA-Z0-9]`: a Chinese/Cyrillic/Arabic prose line has ~0% ASCII
    * alphanumerics and an ASCII test at 50% density silently deletes every
    * non-Latin-script page — the exact corpus a web-scale crawl is made of.
    * Chrome still dies on line SHAPE (pipes, dashes, parens, short length)
    * in every script, because punctuation is never letter-or-digit.
    *
    * Returns (content, n_kept, n_total); empty input keeps its one empty
    * line only when minLen == 0 (0 >= 0 on both tests).
    *
    * `keepBlank` mode preserves PARAGRAPH STRUCTURE: blank (zero-length)
    * lines are never length/density-tested; instead any run of blanks
    * between two kept lines collapses to ONE blank separator, and
    * leading/trailing blanks vanish. This is the mode to run BEFORE
    * paragraph-level operators (ParagraphDedup splits on the blank-line
    * separator) — the default mode would eat the separators and silently
    * merge adjacent paragraphs. `n_kept` counts kept CONTENT lines in both
    * modes (separators are structure, not content).
    */
  def compute(s: UTF8String, minLen: Int, minAlnumPct: Int,
      keepBlank: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val lines = s.toString.split("\n", -1)
    val sb = new java.lang.StringBuilder
    var kept = 0L
    var pendingBlank = false
    var li = 0
    while (li < lines.length) {
      val line = lines(li)
      if (keepBlank && line.isEmpty) {
        if (kept > 0) pendingBlank = true
      } else {
        val chars = line.codePointCount(0, line.length)
        if (chars >= minLen) {
          var alnum = 0
          var i = 0
          while (i < line.length) {
            val cp = line.codePointAt(i)
            if (Character.isLetterOrDigit(cp)) alnum += 1
            i += Character.charCount(cp)
          }
          if (100L * alnum >= minAlnumPct.toLong * chars) {
            if (kept > 0) sb.append(if (pendingBlank) "\n\n" else "\n")
            sb.append(line)
            kept += 1
            pendingBlank = false
          }
        }
      }
      li += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(sb.toString), kept, lines.length.toLong))
  }
}

/** graft_extract_content(text, minLen, minAlnumPct): within-document
  * main-content extraction by line density as ONE narrow codegen'd
  * projection — no explode, no reassembly shuffle, no lambda interpreter
  * frames (the r9 HOF-deopt lesson). Returns
  * struct<content:string, n_kept:bigint, n_total:bigint>.
  */
case class ContentExtract(child: Expression, minLen: Int, minAlnumPct: Int,
    keepBlank: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("content", StringType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("n_total", LongType, nullable = false)))
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_extract_content requires a string argument, got ${child.dataType}")
    else if (minLen < 0 || minAlnumPct < 0 || minAlnumPct > 100)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_extract_content needs minLen >= 0 and minAlnumPct in [0,100], " +
          s"got ($minLen, $minAlnumPct)")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(v: Any): Any =
    ContentExtractImpl.compute(v.asInstanceOf[UTF8String], minLen, minAlnumPct, keepBlank)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.ContentExtractImpl.compute($c, $minLen, $minAlnumPct, $keepBlank)")

  override protected def withNewChildInternal(newChild: Expression): ContentExtract =
    copy(child = newChild)
}

object SigMatchCountImpl {
  /** Positions where two equal-length long arrays agree — the signature-
    * space similarity kernel: for MinHash signatures, matches/k is the
    * standard unbiased Jaccard estimate; for the banded arrays produced by
    * DedupOps.bands (hashes seeded by band index), `count >= 1` is exactly
    * "shares a band at the same position". Single pass, exact integers.
    */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"sig_match_count needs equal-length arrays, got $n vs ${b.numElements()}")
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}

/** graft_sig_match_count(a, b): number of positions where two equal-length
  * array<bigint> values agree. Codegen'd single static call, no lambda
  * interpreter frames — the comparison kernel for signature-space near-dup
  * (matches/k estimates Jaccard) and positional band overlap.
  */
case class SigMatchCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_sig_match_count requires two array<bigint> arguments, got $l and $r")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SigMatchCountImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.SigMatchCountImpl.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatchCount =
    copy(left = newLeft, right = newRight)
}

object PqAdcImpl {
  /** Asymmetric-distance (ADC) accumulation for a product-quantized vector:
    * Σ_s lut[s][codes[s]] — the code array picks one precomputed
    * sub-distance per subspace from the query's lookup table. Double
    * precision, subspace order, so the fold is bit-identical to the HOF
    * twin `aggregate(zip_with(codes, lut, (c, row) -> element_at(row, c+1)),
    * 0.0, +)` kept for the parity spec. Shape mismatches THROW (loud usage
    * errors — a silent zero would rank garbage plausibly).
    */
  def compute(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    if (lut.numElements() != m)
      throw new IllegalArgumentException(
        s"graft_pq_adc: $m codes but ${lut.numElements()} LUT rows")
    var acc = 0.0
    var s = 0
    while (s < m) {
      val row = lut.getArray(s)
      val c = codes.getInt(s)
      if (c < 0 || c >= row.numElements())
        throw new IllegalArgumentException(
          s"graft_pq_adc: code $c out of [0, ${row.numElements()}) in subspace $s")
      acc += row.getDouble(c)
      s += 1
    }
    acc
  }
}

/** graft_pq_adc(codes, lut): the PQ query scan's hot-path scorer — runs once
  * per (corpus row × query), so it is a native codegen'd expression for the
  * same reason as [[SrpSignature]] (higher-order functions never codegen;
  * an interpreted m-lambda chain per scanned row would dominate the scan).
  */
case class PqAdc(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_pq_adc requires array<int> codes and array<array<double>> lut, got $l and $r")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    PqAdcImpl.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.PqAdcImpl.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

object UnitVecImpl {
  /** Unit-normalize to doubles — bit-identical to the HOF chain
    * `transform(vec, x => when(n > 0, x.cast(double)/n).otherwise(x.cast(double)))`
    * with `n = sqrt(aggregate(zip_with(vec, vec, (x, y) => x.cast(double) *
    * y.cast(double)), 0.0, +))`: the norm folds in element order in double
    * precision, each element is cast then divided by the same double norm,
    * and a zero vector passes through unscaled. The HOF twin is kept in
    * ProductQuantizer for the parity spec. Native because the HOF lambda
    * embeds the norm AGGREGATE inside the per-element body — interpreted
    * evaluation (HOFs are CodegenFallback) recomputed the full O(dim) norm
    * for EVERY element, an O(dim²) interpreter tower per row that dominated
    * the PQ encode/assignment paths.
    */
  def compute(vec: ArrayData, isFloat: Boolean): ArrayData = {
    val n = vec.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      x(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) { acc += x(i) * x(i); i += 1 }
    val norm = math.sqrt(acc)
    if (norm > 0) {
      i = 0
      while (i < n) { x(i) = x(i) / norm; i += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(x)
  }
}

/** graft_unit_vec(vec): unit-normalized double vector (zero vectors pass
  * through), single pass, codegen'd static call.
  */
case class UnitVec(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_unit_vec requires array<float>/array<double>, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    UnitVecImpl.compute(v.asInstanceOf[ArrayData], elemIsFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.UnitVecImpl.compute($c, $elemIsFloat)")
  override protected def withNewChildInternal(newChild: Expression): UnitVec =
    copy(child = newChild)
}

object VecSubAnchorImpl {
  /** `vec − anchors(cell)` elementwise in double precision — bit-identical
    * to the HOF `zip_with(vec, element_at(anchorLit, cell + 1), (x, a) =>
    * x − a)` (same per-element double subtraction, same order). An
    * out-of-range cell throws loudly (element_at would return null and an
    * argmin downstream would eat it silently).
    */
  def compute(vec: ArrayData, isFloat: Boolean, cell: Int,
      anchors: Array[Array[Double]]): ArrayData = {
    if (cell < 0 || cell >= anchors.length)
      throw new IllegalArgumentException(
        s"graft_vec_sub_anchor: cell $cell outside anchor table 0..${anchors.length - 1}")
    val a = anchors(cell)
    val n = vec.numElements()
    if (a.length != n)
      throw new IllegalArgumentException(
        s"graft_vec_sub_anchor: vector has $n elements but anchor $cell has ${a.length}")
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      out(i) = x - a(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** graft_vec_sub_anchor(vec, cell): vector minus the plan-time anchor row
  * for `cell` — the residual-encoding kernel. The anchor matrix rides one
  * broadcast reference object (MatVec's note), kept as Seq for value-based
  * equality (canonicalization/CSE).
  */
case class VecSubAnchor(left: Expression, right: Expression,
    anchors: Seq[Seq[Double]]) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  @transient private lazy val anchorMatrix: Array[Array[Double]] =
    anchors.map(_.toArray).toArray
  private def elemIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), IntegerType)
          if anchors.nonEmpty =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_vec_sub_anchor requires array<float>/array<double> and an int cell, got $l and $r")
    }
  override def nullSafeEval(v: Any, c: Any): Any =
    VecSubAnchorImpl.compute(v.asInstanceOf[ArrayData], elemIsFloat,
      c.asInstanceOf[Int], anchorMatrix)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("anchors", anchorMatrix, "double[][]")
    defineCodeGen(ctx, ev,
      (v, c) => s"graft.expressions.VecSubAnchorImpl.compute($v, $elemIsFloat, $c, $ref)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSubAnchor =
    copy(left = newLeft, right = newRight)
}

object PqSubspaceImpl {
  /** Per-subspace squared-L2 distance tables over a prepared (unit/residual)
    * double vector: row s = distances from slice [s·subDim, s·subDim+subDim)
    * to every entry of codebook s — bit-identical to m × `L2SqDistancesImpl`
    * over `slice(prep, s·subDim + 1, subDim)` (same double arithmetic, same
    * element order). Shared by the codes (argmin) and LUT (raw rows) kernels.
    */
  def distances(prep: ArrayData, codebooks: Array[Array[Array[Double]]],
      subDim: Int): Array[Array[Double]] = {
    val m = codebooks.length
    val n = prep.numElements()
    if (n != m * subDim)
      throw new IllegalArgumentException(
        s"graft_pq: prepared vector has $n elements, expected m=$m × subDim=$subDim")
    val x = new Array[Double](n)
    var i = 0
    while (i < n) { x(i) = prep.getDouble(i); i += 1 }
    val out = new Array[Array[Double]](m)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val off = s * subDim
      val row = new Array[Double](cb.length)
      var c = 0
      while (c < cb.length) {
        val cen = cb(c)
        if (cen.length != subDim)
          throw new IllegalArgumentException(
            s"graft_pq: codebook $s entry $c has ${cen.length} dims, expected $subDim")
        var acc = 0.0
        var j = 0
        while (j < subDim) {
          val d = x(off + j) - cen(j)
          acc += d * d
          j += 1
        }
        row(c) = acc
        c += 1
      }
      out(s) = row
      s += 1
    }
    out
  }

  /** First-minimum code per subspace — the `array_position(d, array_min(d))
    * − 1` rule: minimum under Spark's double ordering (java.lang.Double
    * .compare — the ordering array_min uses), first index on ties.
    */
  def codes(prep: ArrayData, codebooks: Array[Array[Array[Double]]],
      subDim: Int): ArrayData = {
    val d = distances(prep, codebooks, subDim)
    val out = new Array[Int](d.length)
    var s = 0
    while (s < d.length) {
      val row = d(s)
      var best = row(0)
      var idx = 0
      var c = 1
      while (c < row.length) {
        if (java.lang.Double.compare(row(c), best) < 0) { best = row(c); idx = c }
        c += 1
      }
      out(s) = idx
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def luts(prep: ArrayData, codebooks: Array[Array[Array[Double]]],
      subDim: Int): ArrayData = {
    val d = distances(prep, codebooks, subDim)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      d.map(row => new org.apache.spark.sql.catalyst.util.GenericArrayData(row): Any))
  }
}

/** graft_pq_codes(prep): the full PQ code array (m ints) of a prepared
  * unit/residual vector in ONE native pass. The HOF formulation —
  * `array(m × (array_position(l2sq(slice(prep, …)), array_min(…)) − 1))` —
  * re-evaluated the whole interpreted prep tower once PER SUBSPACE
  * (CodegenFallback has no common-subexpression elimination), an m×
  * blowup on every encode path (build, append, upsert, inline pqTopK).
  * Codebooks kept as Seq for value-based equality (L2SqDistances' note).
  */
case class PqCodes(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  private def subDim: Int = codebooks.head.head.length
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _)
        if codebooks.nonEmpty && codebooks.forall(_.nonEmpty) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_pq_codes requires a prepared array<double> and non-empty codebooks, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    PqSubspaceImpl.codes(v.asInstanceOf[ArrayData], cbArr, subDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", cbArr, "double[][][]")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.PqSubspaceImpl.codes($c, $ref, $subDim)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** graft_pq_luts(prep): the query-side per-subspace distance tables
  * (array<array<double>>, row s = distances to codebook s) in one native
  * pass — same m× dedup as [[PqCodes]], on the LUT construction that rides
  * every (query × probed cell) row.
  */
case class PqLuts(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  private def subDim: Int = codebooks.head.head.length
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _)
        if codebooks.nonEmpty && codebooks.forall(_.nonEmpty) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_pq_luts requires a prepared array<double> and non-empty codebooks, got $other")
  }
  override def nullSafeEval(v: Any): Any =
    PqSubspaceImpl.luts(v.asInstanceOf[ArrayData], cbArr, subDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", cbArr, "double[][][]")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.PqSubspaceImpl.luts($c, $ref, $subDim)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqLuts =
    copy(child = newChild)
}
