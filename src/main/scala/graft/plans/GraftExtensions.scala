package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo, Literal}

/** SparkSessionExtensions entry point registering the engine's native
  * Catalyst expressions as SQL functions. Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * programmatically via `SparkSession.builder.withExtensions(new
  * GraftExtensions)` — after which `SELECT graft_norm_cdf(z)`,
  * `graft_simhash64(tokens)`, `graft_shingles(tokens, 3)`,
  * `graft_minhash_sig(shingles, 32)`, `graft_cosine(a, b)` and
  * `graft_srp_buckets(...)` (via the Scala API) work in SQL and in
  * `expr(...)` strings.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn argument $pos must be an INT literal, got $other")
  }

  val normCdfDescriptor: FunctionDescription = (
    FunctionIdentifier("graft_norm_cdf"),
    new ExpressionInfo(classOf[NormalCdf].getName, "graft_norm_cdf"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        s"graft_norm_cdf expects 1 argument, got ${children.size}")
      NormalCdf(children.head)
    })

  val simHashDescriptor: FunctionDescription = (
    FunctionIdentifier("graft_simhash64"),
    new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash64"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        s"graft_simhash64 expects 1 argument (token array), got ${children.size}")
      SimHashExpr(children.head)
    })

  val shinglesDescriptor: FunctionDescription = (
    FunctionIdentifier("graft_shingles"),
    new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        s"graft_shingles expects (token array, n), got ${children.size} args")
      ShinglesExpr(children.head, intArg(children(1), "graft_shingles", 2))
    })

  val minHashDescriptor: FunctionDescription = (
    FunctionIdentifier("graft_minhash_sig"),
    new ExpressionInfo(classOf[MinHashExpr].getName, "graft_minhash_sig"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        s"graft_minhash_sig expects (shingle array, k), got ${children.size} args")
      MinHashExpr(children.head, intArg(children(1), "graft_minhash_sig", 2))
    })

  val cosineDescriptor: FunctionDescription = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineExpr].getName, "graft_cosine"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        s"graft_cosine expects 2 array arguments, got ${children.size}")
      CosineExpr(children.head, children(1))
    })

  val bucketHashDescriptor: FunctionDescription = (
    FunctionIdentifier("graft_bucket_hash"),
    new ExpressionInfo("graft.operators.Sampling", "graft_bucket_hash"),
    (children: Seq[Expression]) => {
      require(children.size == 1 || children.size == 2,
        s"graft_bucket_hash expects (key[, seed]), got ${children.size} args")
      val seed = if (children.size == 2) children(1) match {
        case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v.toLong
        case other => throw new IllegalArgumentException(
          s"graft_bucket_hash seed must be an integer literal, got $other")
      } else 0L
      // concrete catalyst nodes (a functions._ Column would carry
      // UnresolvedFunction nodes the registry path never analyzes);
      // NormalCdfSpec pins this tree == Sampling.bucketHash bit-for-bit
      // (the mix31 avalanche: two multiply-shift-truncate rounds with
      // xor-folds, top 20 of the final 31 bits)
      import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseXor,
        Cast, Multiply, Pmod, ShiftRight}
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val m31 = Literal(2147483648L, LongType)
      val x0 = Pmod(Add(Cast(children.head, LongType),
        Literal(seed, LongType)), m31)
      val mixed = Seq(2654435761L, 2246822519L, 3266489917L)
        .foldLeft[Expression](x0) { (x, c) =>
          val y = Pmod(ShiftRight(Multiply(x, Literal(c, LongType)),
            Literal(13, IntegerType)), m31)
          BitwiseXor(y, ShiftRight(y, Literal(16, IntegerType)))
        }
      ShiftRight(mixed, Literal(11, IntegerType))
    })

  val unicodeNormalizeDescriptor: FunctionDescription = (
    FunctionIdentifier("graft_unicode_normalize"),
    new ExpressionInfo(classOf[UnicodeNormalizeExpr].getName,
      "graft_unicode_normalize"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        s"graft_unicode_normalize expects (str, 'NFC'|'NFD'|'NFKC'|'NFKD'), " +
          s"got ${children.size} args")
      val form = children(1) match {
        case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
          v.toString
        case other => throw new IllegalArgumentException(
          s"graft_unicode_normalize form must be a STRING literal, got $other")
      }
      UnicodeNormalizeExpr(children.head, form)
    })

  val descriptors: Seq[FunctionDescription] = Seq(normCdfDescriptor,
    simHashDescriptor, shinglesDescriptor, minHashDescriptor,
    cosineDescriptor, bucketHashDescriptor, unicodeNormalizeDescriptor)

  /** Register on an existing session (tests / REPL). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
