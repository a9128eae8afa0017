package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst kernel for pairwise cosine similarity — the per-pair
  * scoring loop of the ANN family (bruteForceTopK / lshTopK / ivfTopK
  * candidates). The higher-order formulation walks three interpreted
  * folds (zip_with product, two norm aggregates) per pair; this is one
  * fused primitive while-loop with left-to-right summation, bit-identical
  * to the fold (and therefore to the DuckDB oracle the q_ann_cosine gate
  * hash-matches).
  *
  * Null contract mirrors the HOF exactly: null either side, a null
  * element, a length mismatch (zip_with null-pads -> null product), or a
  * zero norm (the when() guard) all yield NULL — so the kernel can turn
  * non-null inputs into null and carries nullSafeCodeGen with an explicit
  * isNull store instead of defineCodeGen. */
object VectorKernels {

  /** Per-row SRP band-bucket kernel (called from generated code).
    * `planes` is row-major (nPlanes x dims). Mirrors the HOF per-plane
    * fold exactly: a null vector, a length mismatch with the plane
    * literal, or any null element makes every dot product null
    * (zip_with null-pads), and the when(d >= 0) guard then drops every
    * bit to 0 — so those rows land in bucket 0 of every band. */
  def srpBuckets(vec: ArrayData, planes: Array[Double], dims: Int,
                 bands: Int, bitsPerBand: Int): ArrayData = {
    val out = new Array[Any](bands)
    val degenerate = vec == null || vec.numElements() != dims || {
      var i = 0; var hasNull = false
      while (i < dims && !hasNull) { hasNull = vec.isNullAt(i); i += 1 }
      hasNull
    }
    var b = 0
    while (b < bands) {
      var bucket = 0L
      if (!degenerate) {
        var i = 0
        while (i < bitsPerBand) {
          val base = (b * bitsPerBand + i) * dims
          var d = 0.0; var j = 0
          while (j < dims) { d += vec.getDouble(j) * planes(base + j); j += 1 }
          if (d >= 0) bucket |= (1L << i)
          i += 1
        }
      }
      out(b) = java.lang.Long.valueOf(bucket)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Per-row argmin-squared-L2 kernel (called from generated code).
    * `cents` is row-major (k x dims). Mirrors the HOF
    * array_min(array(struct(microL(aggregate(zip_with(...))), i)))
    * composition bit-for-bit: left-to-right (x-c)^2 double accumulation
    * from 0.0, micro-rounding as Math.floor(d*1e6+0.5) cast to long
    * (Spark's non-ANSI double->long cast), argmin with ties to the
    * smaller index. Degenerate rows — a null vector, a length mismatch
    * with the centroid literals, or any null element — make EVERY
    * centroid's distance null (zip_with null-pads, the fold poisons),
    * and the struct ordering then picks (null, 0): index 0, exactly the
    * HOF fall-through. Never null, so custom codegen with a false
    * isNull. */
  def argMinL2Micro(vec: ArrayData, cents: Array[Double],
                    dims: Int): Int = {
    val degenerate = vec == null || vec.numElements() != dims || {
      var i = 0; var hasNull = false
      while (i < dims && !hasNull) { hasNull = vec.isNullAt(i); i += 1 }
      hasNull
    }
    if (degenerate) return 0
    val k = cents.length / dims
    var best = Long.MaxValue
    var bestI = 0
    var c = 0
    while (c < k) {
      var acc = 0.0
      var j = 0
      val base = c * dims
      while (j < dims) {
        val diff = vec.getDouble(j) - cents(base + j)
        acc += diff * diff
        j += 1
      }
      val micro = Math.floor(acc * 1e6 + 0.5).toLong
      if (micro < best) { best = micro; bestI = c }
      c += 1
    }
    bestI
  }

  /** Dynamic-centroid argmin (called by [[kmeansCells]]): the
    * [[argMinL2Micro]] arithmetic against a non-empty centroid ARRAY
    * instead of driver literals. Nullity here is PER ENTRY (a null
    * centroid, a length mismatch with the vector, or a null element on
    * either side nulls that entry's distance), and a null distance sorts
    * before every real one — so the winner is the SMALLEST INDEX among
    * null entries when any exist, else the strict argmin with ties to the
    * smaller index. A degenerate vector (null or with a null element)
    * therefore lands at index 0, as in [[argMinL2Micro]]. */
  def argMinL2MicroDyn(vec: ArrayData, cbs: ArrayData): Int = {
    val n = cbs.numElements()
    val vecBad = vec == null || {
      var i = 0; var hasNull = false
      val ne = vec.numElements()
      while (i < ne && !hasNull) { hasNull = vec.isNullAt(i); i += 1 }
      hasNull
    }
    var best = Long.MaxValue
    var bestI = 0
    var found = false
    var c = 0
    while (c < n) {
      if (cbs.isNullAt(c)) return c
      val cb = cbs.getArray(c)
      var bad = vecBad || cb.numElements() != vec.numElements()
      if (!bad) {
        var i = 0
        val d = cb.numElements()
        while (i < d && !bad) { bad = cb.isNullAt(i); i += 1 }
      }
      if (bad) return c // first null-distance entry wins
      var acc = 0.0
      var j = 0
      val d = cb.numElements()
      while (j < d) {
        val diff = vec.getDouble(j) - cb.getDouble(j)
        acc += diff * diff
        j += 1
      }
      val micro = Math.floor(acc * 1e6 + 0.5).toLong
      if (!found || micro < best) { found = true; best = micro; bestI = c }
      c += 1
    }
    bestI
  }

  /** The k-means of one SemDeDup shard (called by [[SemDupShardGen]]):
    * `vecs` are the shard's vectors in ascending id order. Init from the
    * first min(n, k) vectors; each of `maxIter` updates assigns every
    * vector through [[argMinL2MicroDyn]] and replaces each cell's
    * centroid by its per-dim mean summed as Embeddings.meanPoolLong sums
    * it: every element cast to DECIMAL(18,9) (a null element, NaN or an
    * overflow (when `nullOnOverflow`) is SQL NULL), summed exactly, the
    * sum's double divided by the number of vectors long enough to have
    * that dim; a dim with no non-null element is a NULL mean, and a cell
    * with no non-empty vector keeps its centroid. The decimals are held
    * as unscaled longs (n x dims x 8 B, cast once, not per iteration); a
    * cell's sum past the long range (|sum| > 9.2e9) throws instead of
    * widening. Returns the final assignment. */
  def kmeansCells(vecs: Array[ArrayData], k: Int, maxIter: Int,
                  nullOnOverflow: Boolean): Array[Int] = {
    val n = vecs.length
    val len = vecs.map(v => if (v == null) 0 else v.numElements())
    val dims = len.max
    val Null = Long.MinValue // unscaled DECIMAL(18,9) values are < 1e18
    val dec = Array.tabulate(n * dims) { t =>
      val (i, j) = (t / dims, t % dims)
      if (j >= len(i) || vecs(i).isNullAt(j)) Null
      else try {
        val d = org.apache.spark.sql.types.Decimal(vecs(i).getDouble(j))
        if (d.changePrecision(18, 9)) d.toUnscaledLong
        else if (nullOnOverflow) Null
        else throw new ArithmeticException(s"$d overflows DECIMAL(18,9)")
      } catch { case _: NumberFormatException => Null }
    }
    val cents = Array.tabulate[Any](math.min(n, k))(vecs(_))
    val cbs = new GenericArrayData(cents)
    def assign(): Array[Int] = vecs.map(argMinL2MicroDyn(_, cbs))
    for (_ <- 1 to maxIter) {
      val cell = assign()
      val sum = new Array[Long](cents.length * dims)
      val cnt = new Array[Long](cents.length * dims)
      val seen = new Array[Boolean](cents.length * dims)
      for (i <- 0 until n; j <- 0 until len(i)) {
        val (t, u) = (cell(i) * dims + j, dec(i * dims + j))
        cnt(t) += 1
        if (u != Null) { sum(t) = Math.addExact(sum(t), u); seen(t) = true }
      }
      for (c <- cents.indices) {
        val l = (0 until dims).count(j => cnt(c * dims + j) > 0)
        if (l > 0) cents(c) = new GenericArrayData(Array.tabulate[Any](l) { j =>
          val t = c * dims + j
          if (!seen(t)) null
          else java.math.BigDecimal.valueOf(sum(t), 9).doubleValue / cnt(t)
        })
      }
    }
    assign()
  }

  /** Per-row PQ subdistance table (called from generated code): cell
    * (j, c) = microL(sqDist(slice(vec, j*dsub+1, dsub), books(j)(c))),
    * with `books` flattened row-major (m x k x dsub). Mirrors the
    * unrolled HOF composition bit-for-bit, including its null algebra:
    * a null vector, a vector too short for subspace j (slice returns a
    * short array, zip_with null-pads), or a null element inside the
    * slice make that CELL null; the two array levels are never null. */
  def pqSubDistTable(vec: ArrayData, books: Array[Double], m: Int,
                     k: Int, dsub: Int): ArrayData = {
    val rows = new Array[Any](m)
    var j = 0
    while (j < m) {
      val cells = new Array[Any](k)
      // cell nullity is uniform within a subspace: it depends only on
      // the slice's shape, never on the centroid
      var bad = vec == null || vec.numElements() < (j + 1) * dsub
      if (!bad) {
        var t = j * dsub
        while (t < (j + 1) * dsub && !bad) {
          bad = vec.isNullAt(t); t += 1
        }
      }
      var c = 0
      while (c < k) {
        if (bad) cells(c) = null
        else {
          var acc = 0.0
          var t = 0
          val base = (j * k + c) * dsub
          while (t < dsub) {
            val diff = vec.getDouble(j * dsub + t) - books(base + t)
            acc += diff * diff
            t += 1
          }
          cells(c) = java.lang.Long.valueOf(
            Math.floor(acc * 1e6 + 0.5).toLong)
        }
        c += 1
      }
      rows(j) = new GenericArrayData(cells)
      j += 1
    }
    new GenericArrayData(rows)
  }

  /** Per-pair ADC distance (called from generated code): the integer
    * sum over subspaces of dtab[j][code[j]]. Mirrors the HOF
    * aggregate's null algebra: a null dtab or code, a missing row/cell
    * index (element_at past the end is null), or a null cell poison the
    * whole sum to null. Codes outside [0, k) — impossible from encode,
    * whose argmin emits [0, k) — resolve to null rather than
    * element_at's negative-index wraparound; the expression's contract
    * is encode-produced codes. Returns a boxed Long or null. */
  def adcDist(dtab: ArrayData, code: ArrayData, m: Int,
              codeIsLong: Boolean): java.lang.Long = {
    if (dtab == null || code == null) return null
    if (dtab.numElements() < m || code.numElements() < m) return null
    var acc = 0L
    var j = 0
    while (j < m) {
      if (code.isNullAt(j)) return null
      // range-check before narrowing: a long code of 2^32 must not wrap
      // to index 0
      val c: Long =
        if (codeIsLong) code.getLong(j) else code.getInt(j).toLong
      val row = dtab.getArray(j)
      if (row == null || c < 0 || c >= row.numElements() ||
        row.isNullAt(c.toInt)) return null
      acc += row.getLong(c.toInt)
      j += 1
    }
    java.lang.Long.valueOf(acc)
  }

  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a == null || b == null) return null
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na > 0 && nb > 0)
      java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
    else null
  }
}

/** SRP band-bucket array over an embedding column: band b's bucket packs
  * the sign bits of its own plane slice. Planes are carried FLATTENED as
  * a Seq (case-class structural equality keeps plan canonicalization
  * sound; an Array field would compare by reference) and bound to a
  * primitive array once per executor. Never null: degenerate rows (null /
  * ragged / null-element vectors) get bucket 0 in every band, exactly
  * like the HOF when-guard fall-through — so custom codegen, not
  * defineCodeGen. */
case class SrpBandBucketsExpr(child: Expression, planes: Seq[Double],
                              dims: Int, bands: Int, bitsPerBand: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with Serializable {
  require(planes.length == bands * bitsPerBand * dims,
    s"planes must be (bands*bitsPerBand)x(dims) flattened: " +
      s"${planes.length} != ${bands * bitsPerBand} * $dims")

  @transient private lazy val planeArr: Array[Double] = planes.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<DOUBLE>, got ${other.sql}")
    }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_srp_buckets"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    VectorKernels.srpBuckets(
      if (v == null) null else v.asInstanceOf[ArrayData],
      planeArr, dims, bands, bitsPerBand)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val planesRef = ctx.addReferenceObj("graftSrpPlanes", planeArr,
      "double[]")
    val c = child.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(dataType)
    ev.copy(code = c.code +
      code"""
        $javaType ${ev.value} = graft.plans.VectorKernels.srpBuckets(
          ${c.isNull} ? null : ${c.value}, $planesRef, $dims, $bands,
          $bitsPerBand);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : SrpBandBucketsExpr = copy(child = newChild)
}

/** Argmin centroid index over an embedding column: the assignment step
  * of the deterministic k-means family (Clustering.assign's native face
  * — flat k-means, SemDeDup, PQ train/encode all ride it). Centroids
  * are carried FLATTENED row-major as a Seq (structural equality for
  * plan canonicalization, as SrpBandBucketsExpr) and bound to a
  * primitive array once per executor. The HOF twin it replaces walked
  * k interpreted zip_with/aggregate folds per row AND carried a
  * ~k*dims-node expression tree through every plan (planning cost per
  * bench rep); this is one expression node and one fused while-loop.
  * Never null: degenerate rows resolve to index 0 exactly like the
  * HOF's struct ordering (see the kernel doc). */
case class ArgMinL2MicroExpr(child: Expression, centroids: Seq[Double],
                             dims: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with Serializable {
  require(dims > 0, s"dims must be positive, got $dims")
  require(centroids.nonEmpty && centroids.length % dims == 0,
    s"centroids must be k x dims flattened: ${centroids.length} " +
      s"not a multiple of $dims")

  @transient private lazy val centArr: Array[Double] = centroids.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<DOUBLE>, got ${other.sql}")
    }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_argmin_l2_micro"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    VectorKernels.argMinL2Micro(
      if (v == null) null else v.asInstanceOf[ArrayData], centArr, dims)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val centsRef = ctx.addReferenceObj("graftArgminCents", centArr,
      "double[]")
    val c = child.genCode(ctx)
    ev.copy(code = c.code +
      code"""
        int ${ev.value} = graft.plans.VectorKernels.argMinL2Micro(
          ${c.isNull} ? null : ${c.value}, $centsRef, $dims);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : ArgMinL2MicroExpr = copy(child = newChild)
}

/** PQ subdistance table over a query-vector column: m x k LONG cells,
  * codebooks carried FLATTENED row-major (m*k*dsub) as a Seq and bound
  * to a primitive array once per executor. Replaces an unrolled
  * ~m*k*dsub-node HOF tree (planning cost) of interpreted folds. The
  * outer arrays are never null; cells go null exactly like the HOF
  * (short vector / null element in the subspace slice) — see the
  * kernel doc. */
case class PqSubDistTableExpr(child: Expression, books: Seq[Double],
                              m: Int, k: Int, dsub: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with Serializable {
  require(m > 0 && k > 0 && dsub > 0, s"m/k/dsub must be positive")
  require(books.length == m * k * dsub,
    s"books must be m x k x dsub flattened: ${books.length} != " +
      s"$m * $k * $dsub")

  @transient private lazy val bookArr: Array[Double] = books.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<DOUBLE>, got ${other.sql}")
    }
  override def dataType: DataType =
    ArrayType(ArrayType(org.apache.spark.sql.types.LongType,
      containsNull = true), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_pq_subdist_table"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    VectorKernels.pqSubDistTable(
      if (v == null) null else v.asInstanceOf[ArrayData],
      bookArr, m, k, dsub)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val booksRef = ctx.addReferenceObj("graftPqBooks", bookArr, "double[]")
    val c = child.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(dataType)
    ev.copy(code = c.code +
      code"""
        $javaType ${ev.value} = graft.plans.VectorKernels.pqSubDistTable(
          ${c.isNull} ? null : ${c.value}, $booksRef, $m, $k, $dsub);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PqSubDistTableExpr = copy(child = newChild)
}

/** ADC distance of one (dtab, code) pair: integer sum of m table
  * lookups — the per-candidate scoring loop of the PQ search family,
  * formerly an interpreted aggregate over element_at chains evaluated
  * once per (query, candidate). Null algebra mirrors the HOF (see the
  * kernel doc); nullable because malformed cells poison the sum. */
case class AdcDistExpr(left: Expression, right: Expression, m: Int)
    extends BinaryExpression with Serializable {
  require(m > 0, s"m must be positive, got $m")

  private def codeOk(dt: DataType) = dt match {
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) => true
    case ArrayType(org.apache.spark.sql.types.LongType, _) => true
    case _ => false
  }
  private lazy val codeIsLong = right.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    left.dataType match {
      case ArrayType(ArrayType(org.apache.spark.sql.types.LongType, _), _)
        if codeOk(right.dataType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<ARRAY<BIGINT>>, ARRAY<INT|BIGINT>), " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_adc_dist"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.adcDist(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], m, codeIsLong)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Long ${ev.value}_r =
         |  graft.plans.VectorKernels.adcDist($a, $b, $m, $codeIsLong);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcDistExpr =
    copy(left = newLeft, right = newRight)
}

case class CosineExpr(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  private def ok(dt: DataType) = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<DOUBLE>, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r =
         |  graft.plans.VectorKernels.cosine($a, $b);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineExpr =
    copy(left = newLeft, right = newRight)
}

/** One SemDeDup shard in, its within-cell near-duplicate pairs out: the
  * child is the shard's ARRAY<STRUCT<id, vector>> in ascending id order
  * (sort_array over collect_list), [[VectorKernels.kmeansCells]] assigns
  * the cells, and every id-ordered same-cell index pair whose
  * [[VectorKernels.cosine]] is non-null with
  * floor(cosine * 1e6 + 0.5) >= `minMicro` streams out as (id_a, id_b,
  * cell, cosine). Runs once per shard, so it is interpreted
  * (CodegenFallback) and outside whole-stage codegen; the pairs are
  * generated lazily, never buffered. */
case class SemDupShardGen(child: Expression, cells: Int, maxIter: Int,
                          minMicro: Long, nullOnOverflow: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{IntegerType, StructType}

  private lazy val idType = child.dataType.asInstanceOf[ArrayType].elementType
    .asInstanceOf[StructType].head.dataType
  override def elementSchema: StructType = new StructType()
    .add("id_a", idType).add("id_b", idType)
    .add("cell", IntegerType, nullable = false)
    .add("cosine", DoubleType, nullable = false)
  override def supportCodegen: Boolean = false
  override def prettyName: String = "graft_semdup_shard"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val rows = child.eval(input).asInstanceOf[ArrayData]
    val structs = Array.tabulate(rows.numElements())(rows.getStruct(_, 2))
    val vecs = structs.map(r => if (r.isNullAt(1)) null else r.getArray(1))
    val cell = VectorKernels.kmeansCells(vecs, cells, maxIter, nullOnOverflow)
    structs.indices.groupBy(cell(_)).iterator.flatMap { case (c, m) =>
      for {
        x <- m.indices.iterator
        y <- (x + 1 until m.length).iterator
        cos = VectorKernels.cosine(vecs(m(x)), vecs(m(y)))
        if cos != null && Math.floor(cos * 1e6 + 0.5).toLong >= minMicro
      } yield InternalRow(structs(m(x)).get(0, idType),
        structs(m(y)).get(0, idType), c, cos.doubleValue)
    }
  }

  override protected def withNewChildInternal(newChild: Expression)
      : SemDupShardGen = copy(child = newChild)
}
