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
  *  - cosine: negsim = −round₆(a·c / (‖a‖·‖c‖)), candidates ranked
  *    by `Double.compare` on negsim then ascending cell (exactly the
  *    lexicographic struct order `array_min` / `array_sort` used,
  *    including −0.0 < 0.0) — except a NaN cosine, which ranks FIRST
  *    like the `csim DESC` row_number formulations and the SQL mirrors
  *    (see [[NearestCentroid.compareNegsim]]);
  *  - squared L2 ([[PqEncodeAll]], [[PqLutAll]]): d2 = round₆(‖v‖² −
  *    2v·c + ‖c‖²) per subspace slice v, ‖v‖² evaluated once per
  *    (row, subspace) and ‖c‖² read from the codebook column; the
  *    whole-vector argmin is the one-subspace encode.
  *  round₆ is [[graft.DriverRound]]`(_, 6)`, Spark's `Round(_, 6)` on
  *  doubles exactly (HALF_UP, NaN/∞ passthrough).
  *
  * The codebook child MUST be a broadcast-stable array (one physical
  * buffer per partition): decode of the struct array into primitive
  * arrays is cached keyed on the underlying buffer identity, so the
  * per-row cost is the dot products alone. All three expressions are
  * private to the engine ([[graft.operators.VectorOps]] call sites).
  */
object NearestCentroid {
  /** Σ a[aOff + j]·b[bOff + j] over j < n, folded in ascending j — the
    * one multiply-add loop under every kernel below, and the fold order
    * of [[GraftFunctions.dot]].
    */
  private[functions] def dot(a: Array[Double], aOff: Int, b: Array[Double], bOff: Int,
      n: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < n) { s += a(aOff + j) * b(bOff + j); j += 1 }
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

/** Top-`k` nearest cells by 6 dp-rounded cosine — returns
  * ARRAY<STRUCT<negsim DOUBLE, cell <idType>>> of the k lexicographic-
  * smallest (negsim, cell) pairs ascending, exactly
  * `slice(array_sort(scored), 1, k)` of the HOF it replaces for every
  * non-NaN cosine. A NaN cosine (zero-norm centroid or query) ranks
  * FIRST ([[NearestCentroid.compareNegsim]]) — the `ORDER BY csim DESC`
  * semantics of the replaced row_number formulations and of the DuckDB
  * oracle mirrors, which both sort NaN as the largest double.
  */
case class NearestCellsTopK(emb: Expression, nrm: Expression, cb: Expression, k: Int)
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
      val cv = vecs(i)
      val sim = NearestCentroid.dot(x, 0, cv, 0, math.min(x.length, cv.length)) / (xn * aux(i))
      val neg = -graft.DriverRound(sim, 6)
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
    new GenericArrayData(Array.tabulate[Any](filled)(j =>
      new GenericInternalRow(Array[Any](bestNeg(j), ids(bestIdx(j))))))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCellsTopK =
    copy(emb = newChildren(0), nrm = newChildren(1), cb = newChildren(2))
}

/** The subspace arithmetic both PQ kernels share, over a FLAT (sub, cid,
  * cv, cnn2) codebook array sorted by (sub, cid): subspace `sub` of a
  * row is v = slice(emb, sub·w+1, w) (truncated at the array end, empty
  * past it), its entries are the codebook positions [subStart(sub),
  * subStart(sub+1)), and entry i scores round₆(v·v − 2·v·cv + cnn2) with
  * both dots folded ascending.
  */
private[functions] trait SubspaceL2 extends CodebookCache { self: Expression =>
  protected def emb: Expression
  protected def m: Int
  protected def w: Int

  @transient protected final var subStart: Array[Int] = _ // m+1 offsets into the flat arrays

  /** The row's vector as doubles with the codebook decoded, or null when
    * either is null.
    */
  protected final def loadRow(input: InternalRow): Array[Double] = {
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
    e.asInstanceOf[ArrayData].toDoubleArray()
  }

  protected final def sliceLen(x: Array[Double], sub: Int): Int =
    math.max(0, math.min(w, x.length - sub * w))

  /** v·v of subspace `sub`'s slice. */
  protected final def selfDot(x: Array[Double], sub: Int): Double =
    NearestCentroid.dot(x, sub * w, x, sub * w, sliceLen(x, sub))

  /** round₆(vv − 2·v·cv + cnn2) of subspace `sub`'s slice to entry `i`. */
  protected final def d2(x: Array[Double], sub: Int, vv: Double, i: Int): Double = {
    val cv = vecs(i)
    val s = NearestCentroid.dot(x, sub * w, cv, 0, math.min(sliceLen(x, sub), cv.length))
    graft.DriverRound(vv - 2.0 * s + aux(i), 6)
  }
}

/** Compiled all-subspace PQ encode: one eval call per vector runs every
  * subspace's candidate loop in plain JVM code (the residual-PQ codebooks
  * are k=128 centroids × m=16 subspaces, too many candidates for an
  * interpreted HOF argmin). With m = 1 and w ≥ the vector length it is
  * the whole-vector squared-L2 argmin
  * ([[graft.operators.VectorOps.withNearestCentroidD2]]).
  *
  * Per subspace the winner is the lexicographic min of (d2, cid)
  * ([[SubspaceL2]]) with `Double.compare` (NaN largest — `array_min`'s
  * double ordering) and ascending-cid tiebreak. Returns
  * ARRAY<STRUCT<cid, d2>> indexed by subspace (position s+1 = subspace
  * s); a subspace with no codebook entries yields a null-fielded struct,
  * exactly like `array_min` over an empty filter result.
  */
case class PqEncodeAll(emb: Expression, cb: Expression, m: Int, w: Int)
    extends Expression with CodegenFallback with SubspaceL2 {

  override def children: Seq[Expression] = Seq(emb, cb)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_encode_all"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cid", idType, nullable = true),
    StructField("d2", DoubleType, nullable = true))), containsNull = false)

  override def eval(input: InternalRow): Any = {
    val x = loadRow(input)
    if (x == null) return null
    val out = new Array[Any](m)
    var sub = 0
    while (sub < m) {
      val vv = selfDot(x, sub)
      var bestD2 = 0.0
      var bestI = -1
      var i = subStart(sub)
      while (i < subStart(sub + 1)) {
        val d = d2(x, sub, vv, i)
        if (bestI < 0 || {
          val cmp = java.lang.Double.compare(d, bestD2)
          cmp < 0 || (cmp == 0 && idKeys(i) < idKeys(bestI))
        }) { bestD2 = d; bestI = i }
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

/** Compiled full ADC lookup table over the same flat codebook layout as
  * [[PqEncodeAll]]: given a query vector, emit ARRAY<DOUBLE> of
  * length m·k where slot sub·k + cid holds the [[SubspaceL2]] distance of
  * the query's subspace slice to that entry — the table every ADC row
  * scores its codes against, one per query (raw PQ) or per (query,
  * probed cell) residual (residual PQ). Slots with no codebook entry
  * stay NaN — unreachable, since encode cids come from the same codebook.
  */
case class PqLutAll(emb: Expression, cb: Expression, m: Int, w: Int, k: Int)
    extends Expression with CodegenFallback with SubspaceL2 {

  override def children: Seq[Expression] = Seq(emb, cb)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_lut_all"

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def eval(input: InternalRow): Any = {
    val x = loadRow(input)
    if (x == null) return null
    val out = new Array[Double](m * k)
    java.util.Arrays.fill(out, Double.NaN)
    var sub = 0
    while (sub < m) {
      val vv = selfDot(x, sub)
      var i = subStart(sub)
      while (i < subStart(sub + 1)) {
        val slot = sub * k + idKeys(i).toInt
        if (slot >= 0 && slot < out.length) out(slot) = d2(x, sub, vv, i)
        i += 1
      }
      sub += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqLutAll =
    copy(emb = newChildren(0), cb = newChildren(1))
}

/** Column-API surface (engine-internal; not SQL-registered — the SQL
  * mirrors re-derive the same math from first principles).
  */
object NearestCentroidFunctions {
  def nearestCells(emb: Column, nrm: Column, cb: Column, k: Int): Column =
    Bridge.column(NearestCellsTopK(
      Bridge.expression(emb), Bridge.expression(nrm), Bridge.expression(cb), k))

  def pqEncodeAll(emb: Column, cb: Column, m: Int, w: Int): Column =
    Bridge.column(PqEncodeAll(
      Bridge.expression(emb), Bridge.expression(cb), m, w))

  def pqLutAll(emb: Column, cb: Column, m: Int, w: Int, k: Int): Column =
    Bridge.column(PqLutAll(
      Bridge.expression(emb), Bridge.expression(cb), m, w, k))
}
