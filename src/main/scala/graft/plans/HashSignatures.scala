package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType,
  LongType, StringType}

/** Native Catalyst expressions for the dedup signature scans — the
  * hottest per-row loops of the 100 TB text-dedup path.
  *
  * The higher-order-function formulations in `Dedup.simHash64Hof` /
  * `Dedup.minHashSignatureHof` are correct but interpreted: every token
  * re-enters the lambda interpreter and every fold step allocates a fresh
  * 62- (resp. k-) element array, so the signature scan costs
  * O(tokens * width) allocations per document. These expressions run the
  * same arithmetic as one primitive while-loop per row (zero allocations
  * for simhash, one output array for minhash) and generate a single
  * static call under whole-stage codegen — no codegen-fallback seam, no
  * Row boxing (the [[NormalCdf]] pattern).
  *
  * Every draw is plain BIGINT arithmetic: a token or shingle keys to its
  * base-31 code-point fold mod 2^31 ([[stringKey31]]) and each slot or
  * bit draws [[mix31]] of that key, so the DuckDB oracle recomputes
  * signatures, fingerprints and everything derived from them bit for
  * bit. Bit parity with the HOF twins is load-bearing (DedupSpec asserts
  * native == HOF). A null token keys to 0; an empty token array yields
  * simhash 0 / an all-null minhash signature; a null array yields null
  * (UnaryExpression contract).
  */
object HashSignatures {

  /** JVM twin of [[graft.operators.Sampling.stringKey31]]: base-31
    * code-point fold mod 2^31. Iterates Unicode CODE POINTS (not UTF-16
    * units) to match `ascii(substr(s, i, 1))` per character on the
    * Column side and `unicode(substr(e, i, 1))` in the DuckDB twin. */
  def stringKey31(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      // mod 2^31 == AND (2^31-1) for any sign: one cycle, no idiv
      h = (h * 31L + cp) & 2147483647L
      i += Character.charCount(cp)
    }
    h
  }

  private final val Mix31Rounds =
    Array(2654435761L, 2246822519L, 3266489917L)

  /** JVM twin of [[graft.operators.Sampling.mix31]]: three
    * multiply-shift-truncate rounds with xor-folds, all intermediates
    * below 2^63 — bit-identical to the Column form and to the BIGINT
    * SQL twin (DedupSpec pins the Column differential). */
  def mix31(key: Long, seed: Long): Long = {
    // floorMod(x, 2^31) == x & (2^31-1) for any sign (two's complement):
    // the AND form keeps the 3-round loop free of idiv — this kernel
    // runs k times per shingle in the minhash inner loop
    var x = (key + seed) & 2147483647L
    var r = 0
    while (r < 3) {
      val y = ((x * Mix31Rounds(r)) >> 13) & 2147483647L
      x = y ^ (y >>> 16)
      r += 1
    }
    x
  }

  /** Per-row minhash kernel (called from generated code): slot j
    * carries min over shingles of mix31(stringKey31(shingle),
    * j*1000003). */
  def minhash(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val acc = new Array[Long](k)
    java.util.Arrays.fill(acc, Long.MaxValue)
    var i = 0
    while (i < n) {
      val key =
        if (arr.isNullAt(i)) 0L else stringKey31(arr.getUTF8String(i))
      var j = 0
      while (j < k) {
        val hj = mix31(key, j * 1000003L)
        if (hj < acc(j)) acc(j) = hj
        j += 1
      }
      i += 1
    }
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      out(j) = if (acc(j) == Long.MaxValue) null
               else java.lang.Long.valueOf(acc(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Per-row simhash kernel (called from generated code): a 62-BIT
    * fingerprint (not 64 — two mix31 draws of 31 bits each,
    * hi << 31 | lo); bit j is the sign of the vote over tokens. The
    * chunk-blocking pair machinery is hash-free given the fingerprint
    * (the pigeonhole argument covers the two always-zero top bits
    * trivially). */
  def simhash(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](62)
    var i = 0
    while (i < n) {
      val key =
        if (arr.isNullAt(i)) 0L else stringKey31(arr.getUTF8String(i))
      val h = (mix31(key, 500009L) << 31) | mix31(key, 0L)
      var j = 0
      while (j < 62) {
        votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 62) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  private[plans] def requireStringArray(dt: DataType, name: String)
      : TypeCheckResult = dt match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires ARRAY<STRING>, got ${other.sql}")
  }

  private val SpaceSep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** Per-row distinct word-n-gram kernel (called from generated code).
    * Replicates the HOF formulation exactly: windows of n tokens joined
    * with " " (null tokens skipped, as concat_ws does), first-occurrence
    * order (as array_distinct does), an empty array when the doc has
    * fewer than n tokens AND when the input array is null (the HOF's
    * when/otherwise falls through to the empty branch on null). */
  def shingles(arr: ArrayData, n: Int): ArrayData = {
    if (arr == null) return new GenericArrayData(Array.empty[Any])
    val tokens = arr.numElements()
    if (tokens < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    val window = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i <= tokens - n) {
      var j = 0
      while (j < n) {
        window(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      seen.add(org.apache.spark.unsafe.types.UTF8String
        .concatWs(SpaceSep, window: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Sorted distinct UTF8 gram set for [[StaticGramOverlapExpr]] —
    * built ONCE per expression instance (driver side), probed per row
    * by binary search. */
  def sortedGramSet(grams: Seq[String]): Array[AnyRef] = {
    val arr: Array[AnyRef] = grams.distinct
      .map(g => org.apache.spark.unsafe.types.UTF8String.fromString(g)
        : AnyRef).toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** Count of `arr` elements present in the SORTED gram set. Caller
    * contract: arr elements are distinct ([[shingles]] output), so the
    * membership count equals the distinct-intersection size. Null
    * array / null elements count 0 — the never-null tagging contract. */
  def overlapCount(arr: ArrayData, sorted: Array[AnyRef]): Int = {
    if (arr == null) return 0
    var c = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i) &&
          java.util.Arrays.binarySearch(sorted, arr.getUTF8String(i)) >= 0)
        c += 1
      i += 1
    }
    c
  }
}

/** Membership count of a distinct string array against a STATIC gram
  * set — the streaming decontamination kernel. The HOF formulation
  * `size(array_intersect(grams, lit(benchSet)))` rebuilds a hash set
  * from the benchmark side PER ROW — O(|bench|) per document, measured
  * at sf0.1 as 3.1 s of q_stream_decontam's 3.5 s single micro-batch
  * against a 0.40 s batch twin doing the same tagging via a broadcast
  * semi-join. This expression binds the set ONCE as a sorted array
  * (per-row cost O(|doc grams| · log |bench|), independent of
  * benchmark growth — the contract a 100 TB corpus scan needs) and is
  * bit-equal to the intersect face (DecontamSpec differential).
  * Contract: child elements distinct (ShinglesExpr output); null or
  * empty child counts 0, never null — custom codegen, not
  * defineCodeGen. The set is carried as a Seq field (case-class
  * structural equality keeps plan canonicalization sound, the
  * [[SrpBandBucketsExpr]] rationale) and sorted once lazily. */
case class StaticGramOverlapExpr(child: Expression, grams: Seq[String])
    extends UnaryExpression with Serializable {

  @transient private lazy val sortedSet: Array[AnyRef] =
    HashSignatures.sortedGramSet(grams)

  override def checkInputDataTypes(): TypeCheckResult =
    HashSignatures.requireStringArray(child.dataType, prettyName)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_static_gram_overlap"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    HashSignatures.overlapCount(
      if (v == null) null else v.asInstanceOf[ArrayData], sortedSet)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val setRef = ctx.addReferenceObj("graftGramSet", sortedSet,
      "java.lang.Object[]")
    val c = child.genCode(ctx)
    ev.copy(code = c.code +
      code"""
        int ${ev.value} = graft.plans.HashSignatures.overlapCount(
          ${c.isNull} ? null : ${c.value}, $setRef);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : StaticGramOverlapExpr = copy(child = newChild)
}

/** 62-bit simhash fingerprint over a token array (see
  * [[HashSignatures.simhash]]); SQL name `graft_simhash64`. */
case class SimHashExpr(child: Expression)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    HashSignatures.requireStringArray(child.dataType, prettyName)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any =
    HashSignatures.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashSignatures.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : SimHashExpr = copy(child = newChild)
}

/** k-slot minhash signature over a shingle array (see
  * [[HashSignatures.minhash]]); empty input gives an all-null
  * signature. SQL name `graft_minhash_sig`. */
case class MinHashExpr(child: Expression, k: Int)
    extends UnaryExpression with Serializable {
  require(k > 0, s"minhash signature width must be positive, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    HashSignatures.requireStringArray(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    HashSignatures.minhash(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.HashSignatures.minhash($c, $k)")

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashExpr = copy(child = newChild)
}

/** Distinct word-n-gram shingle set over a token array — the scan cost
  * that dominates the Jaccard/MinHash dedup family. NOT null-propagating:
  * a null token array yields an EMPTY shingle set, matching the HOF
  * twin's when/otherwise fall-through (Dedup.shinglesHof), so the
  * expression is never null and needs custom codegen instead of
  * defineCodeGen. */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with Serializable {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    HashSignatures.requireStringArray(child.dataType, prettyName)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    HashSignatures.shingles(
      if (v == null) null else v.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(dataType)
    ev.copy(code = c.code +
      code"""
        $javaType ${ev.value} = graft.plans.HashSignatures.shingles(
          ${c.isNull} ? null : ${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : ShinglesExpr = copy(child = newChild)
}
