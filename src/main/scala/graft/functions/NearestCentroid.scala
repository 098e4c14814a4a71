package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Compiled argmin/top-k over a broadcast codebook array — the SURVEY
  * §4.3 escalation the round-9 scale probe called for (SCALE.md):
  * higher-order-function lambdas are INTERPRETED, so the row-local
  * assignment's per-centroid arithmetic cost ~µs/element; these
  * expressions run the whole candidate loop in one compiled `eval`
  * call per row (CodegenFallback — the loop itself is plain JVM code,
  * which is what matters; whole-stage codegen would only shave the one
  * virtual call).
  *
  * Numerical contract: IDENTICAL values and ordering to the HOF
  * formulations they replace —
  *  - cosine: negsim = −(round₆?(a·c / (‖a‖·‖c‖))), candidates ranked
  *    by `Double.compare` on negsim then ascending cell (exactly the
  *    lexicographic struct order `array_min` / `array_sort` used,
  *    including −0.0 < 0.0) — except a NaN cosine, which ranks FIRST
  *    like the `csim DESC` row_number formulations and the SQL mirrors
  *    (see [[NearestCentroid.compareNegsim]]);
  *  - L2: d2 = round₆(‖a‖² − 2a·c + ‖c‖²) with ‖a‖² evaluated once per
  *    row and ‖c‖² read from the codebook column, ranked by
  *    `Double.compare` then ascending id.
  *  round₆ replicates Spark's `Round(_, 6)` on doubles exactly:
  *  `BigDecimal.valueOf(x).setScale(6, HALF_UP)` with NaN/∞ passthrough.
  *
  * The codebook child MUST be a broadcast-stable array (one physical
  * buffer per partition): decode of the struct array into primitive
  * arrays is cached keyed on the underlying buffer identity, so the
  * per-row cost is the dot products alone. Both expressions are
  * private to the engine ([[graft.operators.VectorOps]] call sites).
  */
object NearestCentroid {
  private[functions] def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private[functions] def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** `Double.compare` with NaN SMALLEST instead of largest — the negsim
    * order a `csim DESC` ranking implies: both Spark SQL and DuckDB sort
    * NaN as the LARGEST double, so `ORDER BY csim DESC` ranks a NaN
    * cosine (zero-norm centroid or query) FIRST, and the negated-
    * ascending comparator must agree (plain `Double.compare` on negsim
    * would rank it last, diverging from both engines).
    */
  private[functions] def compareNegsim(a: Double, b: Double): Int = {
    val an = java.lang.Double.isNaN(a)
    val bn = java.lang.Double.isNaN(b)
    if (an || bn) { if (an && bn) 0 else if (an) -1 else 1 }
    else java.lang.Double.compare(a, b)
  }
}

/** The one codebook decode every expression below shares. Two struct
  * layouts: the cell layout (id, vec, aux) and the flat PQ layout (sub,
  * id, vec, aux), whose leading subspace column decodes into `subs`.
  */
private[functions] trait CodebookCache { self: Expression =>
  protected def cb: Expression

  private def cbElem: StructType =
    cb.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  protected final def idType: DataType = cbElem.fields(cbElem.length - 3).dataType

  @transient private var keyObj: AnyRef = _
  @transient private var keyOff: Long = -1L
  @transient private var keyLen: Int = -1
  @transient private var keySize: Long = -1L
  @transient private var keyBits: Long = 0L
  @transient protected final var subs: Array[Int] = _ // flat PQ layout only
  @transient protected final var ids: Array[Any] = _
  @transient protected final var idKeys: Array[Long] = _
  @transient protected final var vecs: Array[Array[Double]] = _
  @transient protected final var aux: Array[Double] = _ // cnrm / ‖c‖²

  /** Decode the codebook structs once per physical buffer; true when
    * this call decoded. The cache key is the buffer identity PLUS content
    * guards (total byte size and a rotate-XOR fold of EVERY struct's
    * aux-field bits): a reused buffer with different contents (a
    * hypothetical non-broadcast, per-row codebook) re-decodes instead of
    * silently serving a stale codebook, including one differing only in
    * interior entries. The fold is O(m) aux reads per row — against the
    * m × dim multiply-adds the candidate loop then performs, ~1/dim
    * relative overhead; id/vec fields remain unguarded (aux is derived
    * from vec at every call site, so a vec change moves aux too). Every
    * call site passes a BROADCAST one-row-array codebook, whose buffer is
    * immutable for the lifetime of the partition — the guard exists to
    * turn a violated assumption into a re-decode, not to be a
    * cryptographic checksum. On allocation: `getStruct` returns a
    * short-lived row wrapper per entry, but it never escapes the loop
    * (one `getDouble` and discard), so C2's scalar replacement elides it
    * in the steady state; even allocated, the fold is O(m) reads against
    * the candidate loop's O(m·dim) multiply-adds.
    */
  protected final def load(arr: ArrayData): Boolean = {
    val (obj, off, size) = arr match {
      case u: UnsafeArrayData => (u.getBaseObject, u.getBaseOffset, u.getSizeInBytes.toLong)
      case other => (other.asInstanceOf[AnyRef], 0L, -1L)
    }
    val width = cbElem.length
    val m = arr.numElements()
    var bits = 0L
    var j = 0
    while (j < m) {
      bits = java.lang.Long.rotateLeft(bits, 17) ^
        java.lang.Double.doubleToRawLongBits(arr.getStruct(j, width).getDouble(width - 1))
      j += 1
    }
    if ((obj eq keyObj) && off == keyOff && m == keyLen &&
      size == keySize && bits == keyBits) return false
    val flat = width == 4
    val newSubs = if (flat) new Array[Int](m) else null
    val newIds = new Array[Any](m)
    val newKeys = new Array[Long](m)
    val newVecs = new Array[Array[Double]](m)
    val newAux = new Array[Double](m)
    val idT = idType
    val intId = idT == IntegerType
    var i = 0
    while (i < m) {
      val row = arr.getStruct(i, width)
      if (flat) newSubs(i) = row.getLong(0).toInt
      val idv = row.get(width - 3, idT)
      newIds(i) = idv
      newKeys(i) = if (intId) idv.asInstanceOf[Int].toLong else idv.asInstanceOf[Long]
      newVecs(i) = row.getArray(width - 2).toDoubleArray()
      newAux(i) = row.getDouble(width - 1)
      i += 1
    }
    subs = newSubs; ids = newIds; idKeys = newKeys; vecs = newVecs; aux = newAux
    keyObj = obj; keyOff = off; keyLen = m; keySize = size; keyBits = bits
    true
  }
}

/** Top-`k` nearest cells by (optionally 6 dp-rounded) cosine — returns
  * ARRAY<STRUCT<negsim DOUBLE, cell <idType>>> of the k lexicographic-
  * smallest (negsim, cell) pairs ascending, exactly
  * `slice(array_sort(scored), 1, k)` of the HOF it replaces for every
  * non-NaN cosine. A NaN cosine (zero-norm centroid or query) ranks
  * FIRST ([[NearestCentroid.compareNegsim]]) — the `ORDER BY csim DESC`
  * semantics of the replaced row_number formulations and of the DuckDB
  * oracle mirrors, which both sort NaN as the largest double.
  */
case class NearestCellsTopK(emb: Expression, nrm: Expression, cb: Expression,
    k: Int, rounded: Boolean)
    extends Expression with CodegenFallback with CodebookCache {

  override def children: Seq[Expression] = Seq(emb, nrm, cb)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_cells"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("negsim", DoubleType, nullable = false),
    StructField("cell", idType, nullable = false))), containsNull = false)

  override def eval(input: InternalRow): Any = {
    val e = emb.eval(input)
    val n = nrm.eval(input)
    val c = cb.eval(input)
    if (e == null || n == null || c == null) return null
    load(c.asInstanceOf[ArrayData])
    val x = e.asInstanceOf[ArrayData].toDoubleArray()
    val xn = n.asInstanceOf[Double]
    val m = vecs.length
    val take = math.min(k, m)
    // insertion top-k on (negsim, cellKey): tiny k (1-3), candidates ~√n
    val bestNeg = new Array[Double](take)
    val bestIdx = new Array[Int](take)
    var filled = 0
    var i = 0
    while (i < m) {
      val sim = NearestCentroid.dot(x, vecs(i)) / (xn * aux(i))
      val neg = -(if (rounded) NearestCentroid.round6(sim) else sim)
      // find insertion position among the filled prefix
      var pos = filled
      while (pos > 0 && {
        val cmp = NearestCentroid.compareNegsim(neg, bestNeg(pos - 1))
        cmp < 0 || (cmp == 0 && idKeys(i) < idKeys(bestIdx(pos - 1)))
      }) pos -= 1
      if (pos < take) {
        val last = math.min(filled, take - 1)
        var j = last
        while (j > pos) { bestNeg(j) = bestNeg(j - 1); bestIdx(j) = bestIdx(j - 1); j -= 1 }
        bestNeg(pos) = neg
        bestIdx(pos) = i
        if (filled < take) filled += 1
      }
      i += 1
    }
    val out = new Array[Any](filled)
    var j = 0
    while (j < filled) {
      out(j) = new GenericInternalRow(Array[Any](bestNeg(j), ids(bestIdx(j))))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCellsTopK =
    copy(emb = newChildren(0), nrm = newChildren(1), cb = newChildren(2))
}

/** Nearest centroid by rounded squared L2 — returns
  * STRUCT<d2 DOUBLE, id <idType>>, the lexicographic min of (d2, id),
  * exactly `array_min` of the HOF it replaces. ‖a‖² is evaluated once
  * per row; ‖c‖² is field 2 of the codebook structs.
  */
case class NearestCentroidL2(emb: Expression, cb: Expression)
    extends Expression with CodegenFallback with CodebookCache {

  override def children: Seq[Expression] = Seq(emb, cb)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_centroid_l2"

  override def dataType: DataType = StructType(Seq(
    StructField("d2", DoubleType, nullable = false),
    StructField("id", idType, nullable = false)))

  override def eval(input: InternalRow): Any = {
    val e = emb.eval(input)
    val c = cb.eval(input)
    if (e == null || c == null) return null
    load(c.asInstanceOf[ArrayData])
    val x = e.asInstanceOf[ArrayData].toDoubleArray()
    val dee = NearestCentroid.dot(x, x)
    val m = vecs.length
    if (m == 0) return null
    var bestD2 = 0.0
    var bestI = -1
    var i = 0
    while (i < m) {
      val d2 = NearestCentroid.round6(
        dee - 2.0 * NearestCentroid.dot(x, vecs(i)) + aux(i))
      if (bestI < 0 || {
        val cmp = java.lang.Double.compare(d2, bestD2)
        cmp < 0 || (cmp == 0 && idKeys(i) < idKeys(bestI))
      }) { bestD2 = d2; bestI = i }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestD2, ids(bestI)))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCentroidL2 =
    copy(emb = newChildren(0), cb = newChildren(1))
}

/** Compiled all-subspace PQ encode over a broadcast FLAT (sub, cid, cv,
  * cnn2) codebook array sorted by (sub, cid) — the r13 escalation of the
  * same SCALE.md lesson the two expressions above encode: the residual-PQ
  * codebooks are k=128 centroids per subspace × m=16 subspaces, and the
  * interpreted `array_min(transform(...))` argmin the encode paths used
  * walked 128 candidates × 16 subspaces per vector in interpreted HOF
  * code, dominating the persisted-artifact cold builds (three residual
  * trainings ≈ 36 s of the sf0.1 shared stage). One eval call per vector
  * runs every subspace's candidate loop in plain JVM code.
  *
  * Numerical contract, IDENTICAL to the HOF formulation in
  * [[graft.operators.VectorOps.withPqCodes]]/`withPqStructs`:
  * per subspace `sub`, v = slice(emb, sub·w+1, w), dss2 = v·v (ascending
  * fold), d2 = round₆(dss2 − 2·v·cv + cnn2), winner = lexicographic min
  * of (d2, cid) with `Double.compare` (NaN largest — `array_min`'s
  * double ordering) and ascending-cid tiebreak. Returns
  * ARRAY<STRUCT<cid, d2>> indexed by subspace (position s+1 = subspace
  * s); a subspace with no codebook entries yields a null-fielded struct,
  * exactly like `array_min` over an empty filter result.
  *
  * The codebook decodes through [[CodebookCache]]; the per-subspace
  * offsets derive from its decoded `subs` column.
  */
case class PqEncodeAll(emb: Expression, cb: Expression, m: Int, w: Int)
    extends Expression with CodegenFallback with CodebookCache {

  override def children: Seq[Expression] = Seq(emb, cb)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_encode_all"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cid", idType, nullable = true),
    StructField("d2", DoubleType, nullable = true))), containsNull = false)

  @transient private var subStart: Array[Int] = _ // m+1 offsets into the flat arrays

  override def eval(input: InternalRow): Any = {
    val e = emb.eval(input)
    val c = cb.eval(input)
    if (e == null || c == null) return null
    if (load(c.asInstanceOf[ArrayData])) {
      // entries arrive sorted by (sub, cid); record where each sub begins
      val starts = new Array[Int](m + 1)
      var i = 0
      while (i < subs.length) {
        var s = subs(i) + 1
        while (s <= m) { starts(s) = i + 1; s += 1 }
        i += 1
      }
      subStart = starts
    }
    val x = e.asInstanceOf[ArrayData].toDoubleArray()
    val out = new Array[Any](m)
    var sub = 0
    while (sub < m) {
      val off = sub * w
      // slice(emb, off+1, w) truncates at the array end; dot folds ascending
      val vLen = math.max(0, math.min(w, x.length - off))
      var dss = 0.0
      var t = 0
      while (t < vLen) { val xv = x(off + t); dss += xv * xv; t += 1 }
      var bestD2 = 0.0
      var bestI = -1
      var i = subStart(sub)
      val end = subStart(sub + 1)
      while (i < end) {
        val cv = vecs(i)
        val n = math.min(vLen, cv.length)
        var s = 0.0
        var j = 0
        while (j < n) { s += x(off + j) * cv(j); j += 1 }
        val d2 = NearestCentroid.round6(dss - 2.0 * s + aux(i))
        if (bestI < 0 || {
          val cmp = java.lang.Double.compare(d2, bestD2)
          cmp < 0 || (cmp == 0 && idKeys(i) < idKeys(bestI))
        }) { bestD2 = d2; bestI = i }
        i += 1
      }
      out(sub) =
        if (bestI < 0) new GenericInternalRow(Array[Any](null, null))
        else new GenericInternalRow(Array[Any](ids(bestI), bestD2))
      sub += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqEncodeAll =
    copy(emb = newChildren(0), cb = newChildren(1))
}

/** Compiled full ADC lookup table over the same flat (sub, cid, cv,
  * cnn2) codebook layout as [[PqEncodeAll]] (r13): given a residual
  * vector, emit ARRAY<DOUBLE> of length m·k where slot sub·k + cid holds
  * round₆(v·v − 2·v·cv + cnn2) with v = slice(qr, sub·w+1, w) — the
  * per-(query, cell) LUT the refine-serve rows previously materialized
  * as m·k ROWS per (query, cell) via an explode + broadcast join +
  * grouped re-pack (three exchanges and an interpreted sort, ~1.5 s of
  * every serve clock). Values are bit-identical: same slices, same
  * ascending dot folds (cnn2 equals the per-row dot(cv, cv) the row form
  * computed), same 6 dp round. Slots with no codebook entry stay NaN —
  * unreachable, since encode cids come from the same codebook.
  */
case class PqLutAll(qr: Expression, cb: Expression, m: Int, w: Int, k: Int)
    extends Expression with CodegenFallback with CodebookCache {

  override def children: Seq[Expression] = Seq(qr, cb)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_lut_all"

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def eval(input: InternalRow): Any = {
    val e = qr.eval(input)
    val c = cb.eval(input)
    if (e == null || c == null) return null
    load(c.asInstanceOf[ArrayData])
    val x = e.asInstanceOf[ArrayData].toDoubleArray()
    val out = new Array[Double](m * k)
    java.util.Arrays.fill(out, Double.NaN)
    // per-subspace self-dots of the query slices, once each
    val dss = new Array[Double](m)
    var sub = 0
    while (sub < m) {
      val off = sub * w
      val vLen = math.max(0, math.min(w, x.length - off))
      var s = 0.0
      var t = 0
      while (t < vLen) { val xv = x(off + t); s += xv * xv; t += 1 }
      dss(sub) = s
      sub += 1
    }
    val n = vecs.length
    var i = 0
    while (i < n) {
      val sb = subs(i)
      if (sb < m) {
        val off = sb * w
        val vLen = math.max(0, math.min(w, x.length - off))
        val cv = vecs(i)
        val nn = math.min(vLen, cv.length)
        var s = 0.0
        var j = 0
        while (j < nn) { s += x(off + j) * cv(j); j += 1 }
        val slot = sb * k + idKeys(i).toInt
        if (slot >= 0 && slot < out.length)
          out(slot) = NearestCentroid.round6(dss(sb) - 2.0 * s + aux(i))
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqLutAll =
    copy(qr = newChildren(0), cb = newChildren(1))
}

/** Column-API surface (engine-internal; not SQL-registered — the SQL
  * mirrors re-derive the same math from first principles).
  */
object NearestCentroidFunctions {
  def nearestCells(emb: Column, nrm: Column, cb: Column, k: Int,
      rounded: Boolean): Column =
    Bridge.column(NearestCellsTopK(
      Bridge.expression(emb), Bridge.expression(nrm), Bridge.expression(cb),
      k, rounded))

  def nearestCentroidL2(emb: Column, cb: Column): Column =
    Bridge.column(NearestCentroidL2(
      Bridge.expression(emb), Bridge.expression(cb)))

  def pqEncodeAll(emb: Column, cb: Column, m: Int, w: Int): Column =
    Bridge.column(PqEncodeAll(
      Bridge.expression(emb), Bridge.expression(cb), m, w))

  def pqLutAll(qr: Column, cb: Column, m: Int, w: Int, k: Int): Column =
    Bridge.column(PqLutAll(
      Bridge.expression(qr), Bridge.expression(cb), m, w, k))
}
