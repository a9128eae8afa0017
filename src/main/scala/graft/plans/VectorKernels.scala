package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
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
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
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

  /** Dynamic-centroid argmin (called from generated code): the
    * [[argMinL2Micro]] arithmetic against a centroid-ARRAY column
    * instead of driver literals. Mirrors the HOF
    * array_min(transform(cbs, ...)) composition exactly, including its
    * richer null algebra: nullity here is PER ENTRY (a null centroid, a
    * length mismatch with the vector, or a null element on either side
    * nulls that entry's distance), and a null distance sorts before
    * every real one — so the winner is the SMALLEST INDEX among null
    * entries when any exist, else the strict argmin with ties to the
    * smaller index. Null (boxed) only when cbs itself is null or empty
    * (array_min of nothing). */
  def argMinL2MicroDyn(vec: ArrayData, cbs: ArrayData): java.lang.Integer = {
    if (cbs == null) return null
    val n = cbs.numElements()
    if (n == 0) return null
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
      if (cbs.isNullAt(c)) return Integer.valueOf(c)
      val cb = cbs.getArray(c)
      var bad = vecBad || cb.numElements() != vec.numElements()
      if (!bad) {
        var i = 0
        val d = cb.numElements()
        while (i < d && !bad) { bad = cb.isNullAt(i); i += 1 }
      }
      if (bad) return Integer.valueOf(c) // first null-distance entry wins
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
    Integer.valueOf(bestI)
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
      rows(j) =
        new org.apache.spark.sql.catalyst.util.GenericArrayData(cells)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
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

/** Dynamic-centroid argmin over (vector, centroid-array) columns — the
  * per-iteration assignment of the SHARDED SemDeDup, whose centroids
  * arrive as a joined column rather than driver literals. One fused
  * while-loop replacing an interpreted transform/aggregate chain
  * evaluated per corpus row per k-means iteration (the 100 TB
  * assignment path). Null contract mirrors the HOF exactly (see the
  * kernel doc); nullable because a null/empty centroid array yields
  * null. */
case class ArgMinL2MicroDynExpr(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _))
        => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<DOUBLE>, ARRAY<ARRAY<DOUBLE>>), " +
          s"got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_argmin_l2_micro_dyn"

  // the HOF twin yields a (null-entry-wins) result even for a NULL
  // VECTOR as long as cbs is non-null — so only cbs-null short-circuits;
  // the vector must flow through. Hence eval/doGenCode handle nulls
  // manually instead of nullSafeEval.
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = left.eval(input)
    val c = right.eval(input)
    VectorKernels.argMinL2MicroDyn(
      if (v == null) null else v.asInstanceOf[ArrayData],
      if (c == null) null else c.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = l.code + r.code +
      code"""
        java.lang.Integer ${ev.value}_r =
          graft.plans.VectorKernels.argMinL2MicroDyn(
            ${l.isNull} ? null : ${l.value},
            ${r.isNull} ? null : ${r.value});
        boolean ${ev.isNull} = ${ev.value}_r == null;
        int ${ev.value} = ${ev.isNull} ? -1 : ${ev.value}_r.intValue();""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgMinL2MicroDynExpr =
    copy(left = newLeft, right = newRight)
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
