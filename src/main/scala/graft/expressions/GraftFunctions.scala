package graft.expressions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Column/SQL surface for the native expressions.
  *
  * Two registration paths:
  *   - [[GraftExtensions]] for `spark.sql.extensions=graft.expressions.GraftExtensions`
  *     (cluster-wide SQL availability), and
  *   - [[GraftFunctions.register]] for an existing session (used by the
  *     operators so `graft_simhash64` / `graft_cosine_sim` resolve lazily).
  */
object GraftFunctions {

  /** Static parameters (shingle width, signature size, hyperplane offset)
    * arrive from SQL as literal ints — they size per-expression state at
    * plan time, so a non-literal is a usage error, not a runtime value.
    */
  // USER_RAISED_EXCEPTION renders <errorMessage> verbatim; the legacy
  // scalar-func class this used before no longer exists in Spark 4's error
  // registry, so its messages were swallowed into INTERNAL_ERROR.
  private def usageError(name: String, detail: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" -> s"$name: $detail"))

  private def intArg(name: String)(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
        org.apache.spark.sql.types.IntegerType) => v
    case other => usageError(name, s"parameter must be a literal int, got $other")
  }

  /** Arity gate for the SQL builders: a wrong argument count must fail as a
    * usage error at analysis time, not as a raw IndexOutOfBoundsException
    * from `args(i)`.
    */
  private def arity(name: String, args: Seq[Expression], n: Int): Seq[Expression] = {
    if (args.length != n)
      usageError(name, s"expects $n argument(s), got ${args.length}")
    args
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_nfc",
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (args: Seq[Expression]) => NfcNormalize(arity("graft_nfc", args, 1).head),
    ),
    ("graft_deflate_ratio",
      new ExpressionInfo(classOf[DeflateRatio].getName, "graft_deflate_ratio"),
      (args: Seq[Expression]) =>
        if (args.size == 2)
          DeflateRatio(args(0), intArg("graft_deflate_ratio")(args(1)))
        else
          DeflateRatio(arity("graft_deflate_ratio", args, 1).head, 6)),
    ("graft_simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (args: Seq[Expression]) => SimHash64(arity("graft_simhash64", args, 1).head),
    ),
    ("graft_cosine_sim",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine_sim"),
      (args: Seq[Expression]) => {
        arity("graft_cosine_sim", args, 2)
        CosineSimilarity(args(0), args(1))
      }),
    ("graft_minhash_sig",
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => {
        arity("graft_minhash_sig", args, 3)
        MinHashSig(args(0),
          intArg("graft_minhash_sig")(args(1)), intArg("graft_minhash_sig")(args(2)))
      }),
    ("graft_shingle_hashes",
      new ExpressionInfo(classOf[ShingleHashSet].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) => {
        arity("graft_shingle_hashes", args, 2)
        ShingleHashSet(args(0), intArg("graft_shingle_hashes")(args(1)))
      }),
    ("graft_char_ngrams",
      new ExpressionInfo(classOf[CharNgrams].getName, "graft_char_ngrams"),
      (args: Seq[Expression]) => {
        arity("graft_char_ngrams", args, 2)
        CharNgrams(args(0), intArg("graft_char_ngrams")(args(1)))
      }),
    ("graft_srp_signature",
      new ExpressionInfo(classOf[SrpSignature].getName, "graft_srp_signature"),
      (args: Seq[Expression]) =>
        if (args.length == 3)
          SrpSignature(args(0), intArg("graft_srp_signature")(args(1)),
            intArg("graft_srp_signature")(args(2)))
        else {
          arity("graft_srp_signature", args, 2)
          SrpSignature(args(0), intArg("graft_srp_signature")(args(1)))
        }),
    ("graft_ahash_bands",
      new ExpressionInfo(classOf[BlockAHash].getName, "graft_ahash_bands"),
      (args: Seq[Expression]) =>
        BlockAHash(arity("graft_ahash_bands", args, 1).head)),
    ("graft_extract_content",
      new ExpressionInfo(classOf[ContentExtract].getName, "graft_extract_content"),
      (args: Seq[Expression]) =>
        if (args.length == 4)
          ContentExtract(args(0),
            intArg("graft_extract_content")(args(1)),
            intArg("graft_extract_content")(args(2)),
            intArg("graft_extract_content")(args(3)) != 0)
        else {
          arity("graft_extract_content", args, 3)
          ContentExtract(args(0),
            intArg("graft_extract_content")(args(1)),
            intArg("graft_extract_content")(args(2)))
        }),
    ("graft_sig_match_count",
      new ExpressionInfo(classOf[SigMatchCount].getName, "graft_sig_match_count"),
      (args: Seq[Expression]) => {
        arity("graft_sig_match_count", args, 2)
        SigMatchCount(args(0), args(1))
      }),
    ("graft_l2sq_distances",
      new ExpressionInfo(classOf[L2SqDistances].getName, "graft_l2sq_distances"),
      (args: Seq[Expression]) => {
        arity("graft_l2sq_distances", args, 2)
        L2SqDistances(args(0), matrixArg("graft_l2sq_distances")(args(1)))
      }))

  /** The centroid matrix arrives from SQL as a foldable
    * array<array<double>> literal — like [[intArg]], it sizes plan-time
    * state, so a non-foldable argument is a usage error.
    */
  private def matrixArg(name: String)(e: Expression): Seq[Seq[Double]] = {
    import org.apache.spark.sql.types._
    e.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) if e.foldable =>
        val rows = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        Vector.tabulate(rows.numElements()) { i =>
          rows.getArray(i).toDoubleArray().toVector
        }
      case other =>
        usageError(name, s"centroid matrix must be a foldable array<array<double>>, got $other")
    }
  }

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** Column API constructing the expressions directly (no registry needed). */
  private def exprCol(e: Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  private def expr(c: Column): Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  def nfc(c: Column): Column = exprCol(NfcNormalize(expr(c)))
  /** Spark's `lower`, same result, without its per-JVM collation init. */
  def lower(c: Column): Column = exprCol(IcuLower(expr(c)))
  def deflateRatio(text: Column, level: Int = 6): Column =
    exprCol(DeflateRatio(expr(text), level))
  def simhash64(c: Column): Column = exprCol(SimHash64(expr(c)))
  def cosineSim(a: Column, b: Column): Column =
    exprCol(CosineSimilarity(expr(a), expr(b)))
  def minhashSig(text: Column, shingleWords: Int, k: Int): Column =
    exprCol(MinHashSig(expr(text), shingleWords, k))
  def shingleHashes(text: Column, shingleWords: Int): Column =
    exprCol(ShingleHashSet(expr(text), shingleWords))
  def charNgrams(text: Column, n: Int): Column =
    exprCol(CharNgrams(expr(text), n))
  def srpSig(vec: Column, bits: Int, offset: Int = 0): Column =
    exprCol(SrpSignature(expr(vec), bits, offset))
  def unitVec(vec: Column): Column = exprCol(UnitVec(expr(vec)))
  def vecSubAnchor(vec: Column, cell: Column,
      anchors: Array[Array[Double]]): Column =
    exprCol(VecSubAnchor(expr(vec), expr(cell),
      anchors.map(_.toVector).toVector))
  def pqCodes(prep: Column, codebooks: Vector[Vector[Vector[Double]]]): Column =
    exprCol(PqCodes(expr(prep), codebooks))
  def pqLuts(prep: Column, codebooks: Vector[Vector[Vector[Double]]]): Column =
    exprCol(PqLuts(expr(prep), codebooks))
  def l2sqDistances(vec: Column, centroids: Array[Array[Double]]): Column =
    exprCol(L2SqDistances(expr(vec), centroids.toVector.map(_.toVector)))
  def matVec(vec: Column, rows: Seq[Seq[Double]]): Column =
    exprCol(MatVec(expr(vec), rows))
  def aHashBands(payload: Column): Column = exprCol(BlockAHash(expr(payload)))
  def extractContent(text: Column, minLen: Int, minAlnumPct: Int,
      keepBlank: Boolean = false): Column =
    exprCol(ContentExtract(expr(text), minLen, minAlnumPct, keepBlank))
  def sigMatchCount(a: Column, b: Column): Column =
    exprCol(SigMatchCount(expr(a), expr(b)))
  def pqAdc(codes: Column, lut: Column): Column =
    exprCol(PqAdc(expr(codes), expr(lut)))
}

/** `SparkSessionExtensions` injector — the deployment-grade registration
  * path (`--conf spark.sql.extensions=graft.expressions.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}
