package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._

/** Native codegen'd dot product of two `array<double>` columns.
  *
  * The HOF form `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is interpreted
  * (higher-order functions sit outside whole-stage codegen) and allocates
  * an intermediate array per call — measured ~0.5 ms per 64-dim pair,
  * which is what made the round-1 ANN bench queries (`s_knn`/`s_lsh`)
  * 35%/41% of total wall time. This expression is a tight primitive loop
  * inside whole-stage codegen: no allocation, no virtual calls.
  *
  * Semantics match the HOF form exactly (left-to-right accumulation in
  * double, so results are bit-identical): null if either array is null,
  * if lengths differ (zip_with pads with null), or if any element is null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // no ExpectsInputTypes (AbstractDataType is private[sql]); the
  // VectorF.dotp entry point casts both sides to array<double>
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd dot product of two `array<float>` columns,
  * ACCUMULATED IN DOUBLE (each product is computed after widening both
  * operands, so the only precision lost vs [[DotProduct]] is the float
  * rounding of the stored components: with a32ᵢ = aᵢ(1+εᵢ), |εᵢ| ≤ 2⁻²⁴,
  * |Δ| ≤ (2⁻²³ + 2⁻⁴⁸)·Σ|aᵢbᵢ| ≤ ~2⁻²³·‖a‖‖b‖ by Cauchy-Schwarz —
  * i.e. |Δcos| ≤ ~2⁻²³ ≈ 1.2e-7 after dividing by the exact norms,
  * INDEPENDENT of dim).
  *
  * Exists for the ANN rescore's too-big-to-broadcast regime: the
  * candidate-volume join output carries one vector payload through a
  * shuffle (join 1's output re-shuffles on the second id for join 2),
  * and at the fourth stress decade (×243, ~10⁸ candidates) that
  * payload's spill is what exceeded one node's local disk even after
  * the SHUFFLE_HASH fix. A float32 copy halves the per-element payload;
  * this kernel scores it without a per-row cast back to array<double>
  * (which would re-materialize a double array per candidate row).
  * Null semantics identical to [[DotProduct]].
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dotf"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** All `planes x tables` LSH hyperplane projections of one vector in one
  * compiled pass — the native twin of `SpecTwins.lshProjectionsHof`
  * (whose aggregate/zip_with fold is interpreted and cost ~1 ms/row).
  * Components are the cross-engine Lehmer-mixed values, precomputed once
  * per (nProj, dims) into a process-wide cache (the mix is ~8 integer ops
  * per component — computing it per row per element would double the
  * kernel's work).
  *
  * Accumulation order matches the HOF fold (per element d ascending, one
  * add per plane) — results are bit-identical, which the DuckDB oracle
  * (s_lsh) depends on.
  */
object LshKernel {
  private val M31 = 2147483647L
  @volatile private var cache: (Int, Int, Array[Double]) = (0, 0, new Array[Double](0))

  /** comp(p, d) laid out row-major by d: comps(d * nProj + p). */
  def components(nProj: Int, dims: Int): Array[Double] = {
    val c = cache
    if (c._1 == nProj && c._2 >= dims) c._3
    else synchronized {
      val c2 = cache
      if (c2._1 == nProj && c2._2 >= dims) c2._3
      else {
        val grow = math.max(dims, 128)
        val arr = new Array[Double](grow * nProj)
        var d = 0
        while (d < grow) {
          var p = 0
          while (p < nProj) {
            val seed = p * 2654435761L + d * 40503L + 1
            val h = (seed * 48271L % M31 * 16807L) % M31
            arr(d * nProj + p) = (h % 2000001L).toDouble / 1000000.0 - 1.0
            p += 1
          }
          d += 1
        }
        cache = (nProj, grow, arr)
        arr
      }
    }
  }

  def project(vec: ArrayData, nProj: Int): ArrayData = {
    val n = vec.numElements()
    val comps = components(nProj, n)
    val sums = new Array[Double](nProj)
    var d = 0
    while (d < n) {
      val x = vec.getDouble(d)
      val base = d * nProj
      var p = 0
      while (p < nProj) {
        sums(p) += x * comps(base + p)
        p += 1
      }
      d += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sums)
  }
}

/** [[LshKernel.project]] as a codegen'd expression over `array<double>`. */
case class LshProjectionsExpr(child: Expression, nProj: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_lsh_proj"

  override protected def nullSafeEval(input: Any): Any =
    LshKernel.project(input.asInstanceOf[ArrayData], nProj)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LshKernel.project($c, $nProj)")

  override protected def withNewChildInternal(newChild: Expression): LshProjectionsExpr =
    copy(child = newChild)
}

/** IVF quantizer ranking kernel: the `nProbe` nearest centroids of one
  * vector against the full centroid table, in one compiled pass.
  *
  * The HOF formulation (`transform(cents, dist-struct)` → `array_sort` →
  * `slice`) is INTERPRETED — higher-order functions sit outside
  * whole-stage codegen — and its cost is O(N·nLists·dim) per pass over
  * the corpus: with BOTH N and nLists growing with the copy count
  * (standard IVF sizing — lists ∝ corpus), the interpreted form
  * measured super-linear wall time at ×30 (ratio 76 vs a gate of 36;
  * LEDGER.md) purely from lambda/allocation overhead on 30× × 30×
  * the arithmetic. This kernel runs the identical arithmetic as a tight
  * primitive loop with an insertion top-k buffer (no per-centroid
  * struct/array allocation, no sort of the full distance array).
  *
  * FP semantics are bit-identical to the HOF/window forms (the s_ivf2
  * DuckDB oracle's formulation): `d = v·v + cc − 2·(v·c)` with each dot
  * accumulated left-to-right in double, ranked by (d, list) ascending —
  * the buffer inserts strictly-closer entries only, and the centroid
  * array is scanned in ascending-list order, so equal distances keep
  * the smaller list id (pinned by NearestListsSpec's planted exact-tie
  * vectors). A centroid whose dimension differs from the vector's is
  * skipped (the callers build both sides from one prepped column, so
  * the case cannot occur).
  */
object NearestKernel {
  /** cents: array<struct<list:int, centroid:array<double>, cc:double>>
    * sorted by list ascending; returns array<int> of the min(nProbe, n)
    * nearest list ids, nearest first.
    */
  def nearest(vec: ArrayData, cents: ArrayData, nProbe: Int): ArrayData = {
    val dim = vec.numElements()
    val nL = cents.numElements()
    val k = math.min(nProbe, nL)
    var vv = 0.0
    var j = 0
    while (j < dim) { val x = vec.getDouble(j); vv += x * x; j += 1 }
    val bd = new Array[Double](k)
    val bl = new Array[Int](k)
    var filled = 0
    var li = 0
    while (li < nL) {
      val c = cents.getStruct(li, 3)
      val cen = c.getArray(1)
      if (cen.numElements() == dim) {
        var dot = 0.0
        var m = 0
        while (m < dim) { dot += vec.getDouble(m) * cen.getDouble(m); m += 1 }
        val dist = vv + c.getDouble(2) - 2.0 * dot
        if (filled < k) {
          var pos = filled
          while (pos > 0 && dist < bd(pos - 1)) pos -= 1
          var s = filled
          while (s > pos) { bd(s) = bd(s - 1); bl(s) = bl(s - 1); s -= 1 }
          bd(pos) = dist; bl(pos) = c.getInt(0); filled += 1
        } else if (k > 0 && dist < bd(k - 1)) {
          var pos = k - 1
          while (pos > 0 && dist < bd(pos - 1)) pos -= 1
          var s = k - 1
          while (s > pos) { bd(s) = bd(s - 1); bl(s) = bl(s - 1); s -= 1 }
          bd(pos) = dist; bl(pos) = c.getInt(0)
        }
      }
      li += 1
    }
    val out = if (filled == k) bl else java.util.Arrays.copyOf(bl, filled)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** [[NearestKernel.nearest]] as a codegen'd expression:
  * (vec array<double>, cents array<struct<list,centroid,cc>>) →
  * array<int> of the nProbe nearest list ids.
  */
case class NearestListsExpr(left: Expression, right: Expression, nProbe: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_lists"

  override def nullSafeEval(vec: Any, cents: Any): Any =
    NearestKernel.nearest(vec.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData], nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.NearestKernel.nearest($a, $b, $nProbe)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestListsExpr =
    copy(left = newLeft, right = newRight)
}

/** Two-level (hierarchical) IVF membership kernel: the `cProbe`
  * nearest COARSE cells of one vector, then the single nearest FINE
  * list within each probed cell — one compiled pass, the assignment
  * primitive of [[graft.sim.Semantic.semanticDupsTwoLevel]] /
  * [[graft.sim.Similarity.ivfTopKTwoLevel]].
  *
  * Why this kernel exists (the scale law): single-level IVF assignment
  * is N·nLists full-dimension distance evaluations, and with the
  * capacity rule nLists ∝ N (fixed ~125 rows/list) that term is
  * N²/125 — measured as ~430 s of t_semdedup's 484 s at the ×729
  * stress decade, the engine's last quadratic. The two-level shape
  * evaluates G coarse cells (G ≈ √nLists) plus the fines of the
  * `cProbe` probed cells (≈ cProbe·nLists/G ≈ cProbe·√nLists), i.e.
  * (1+cProbe)·√nLists per row — ~36× less arithmetic at ×729 and
  * sub-quadratic in N for good.
  *
  * Why it is NOT a pruned exact search: an exact two-level (triangle-
  * inequality cell pruning, lb = ‖v−g‖ − rmax(g)) was prototyped and
  * MEASURED USELESS on this engine's embedding geometry — the corpus
  * is ~isotropic unit vectors at dim 64, where distances concentrate
  * (mean query→cell distance 1.01, mean cell radius 0.36, mean nearest-
  * fine distance 0.93: the bound 1.01−0.36 = 0.65 < 0.93 NEVER binds;
  * 100% of fines scanned at nProbe ∈ {1,4} over 500 probes). Exact
  * nearest-centroid over isotropic data is Ω(N·nLists); no in-plan
  * trick changes that law, so the scope is VERSIONED instead (a new
  * API with its own self-defined scope + a measured recall contract)
  * rather than silently approximated.
  *
  * Selection semantics (deterministic, scan-order-pinned):
  *   - coarse: cells ranked by (d, cell index) ascending with
  *     strictly-closer insertion over an ascending-index scan — exact
  *     ties keep the smaller index (the [[NearestKernel]] discipline);
  *     d = v·v + g·g − 2·(v·g), each dot accumulated left-to-right in
  *     double.
  *   - fine (within each probed cell, in probe order): single nearest
  *     by the same (d, list id) rule; the builder stores fines sorted
  *     by list id ascending, so strict `<` keeps the smaller list on
  *     exact ties.
  *   - degenerate vectors (NaN/±Inf components → non-finite v·v): every
  *     distance is non-finite and no comparison displaces, so the
  *     output degenerates to the first `cProbe` cells in index order,
  *     each contributing its smallest fine list id — deterministic,
  *     and such rows pair only with rows making the same degenerate
  *     choice (their cosines are then NaN and surface as NaN exactly
  *     like the flat op's degenerate pairs; see [[QuantKernel]]).
  *   - a cell or fine whose centroid dimension differs from the
  *     vector's is skipped (the builder constructs both sides from one
  *     prepped column, so the case cannot occur); a probed cell with
  *     no usable fines contributes nothing (output may be shorter than
  *     `cProbe`).
  *
  * Fine lists are globally numbered and cells own DISJOINT fine sets
  * (builder invariant), so the output array never repeats a list id.
  */
object TwoLevelKernel {
  /** cells: array<struct<gcent: array<double>, gcc: double,
    * fines: array<struct<list: int, centroid: array<double>, cc: double>>>>;
    * returns array<int> of ≤ min(cProbe, nCells) fine list ids, probe
    * order (nearest cell first).
    */
  def memberships(vec: ArrayData, cells: ArrayData, cProbe: Int): ArrayData = {
    val dim = vec.numElements()
    val nG = cells.numElements()
    val cp = math.min(cProbe, nG)
    var vv = 0.0
    var j = 0
    while (j < dim) { val x = vec.getDouble(j); vv += x * x; j += 1 }
    // top-cp cells by (d, index): strictly-closer insertion, ascending scan
    val bd = new Array[Double](cp)
    val bi = new Array[Int](cp)
    var filled = 0
    var gi = 0
    while (gi < nG) {
      val cell = cells.getStruct(gi, 3)
      val gc = cell.getArray(0)
      if (gc.numElements() == dim) {
        var dot = 0.0
        var m = 0
        while (m < dim) { dot += vec.getDouble(m) * gc.getDouble(m); m += 1 }
        val dist = vv + cell.getDouble(1) - 2.0 * dot
        if (filled < cp) {
          var pos = filled
          while (pos > 0 && dist < bd(pos - 1)) pos -= 1
          var s = filled
          while (s > pos) { bd(s) = bd(s - 1); bi(s) = bi(s - 1); s -= 1 }
          bd(pos) = dist; bi(pos) = gi; filled += 1
        } else if (cp > 0 && dist < bd(cp - 1)) {
          var pos = cp - 1
          while (pos > 0 && dist < bd(pos - 1)) pos -= 1
          var s = cp - 1
          while (s > pos) { bd(s) = bd(s - 1); bi(s) = bi(s - 1); s -= 1 }
          bd(pos) = dist; bi(pos) = gi
        }
      }
      gi += 1
    }
    // nearest fine within each selected cell, probe order
    val out = new Array[Int](filled)
    var oi = 0
    var s = 0
    while (s < filled) {
      val fines = cells.getStruct(bi(s), 3).getArray(2)
      val nF = fines.numElements()
      var best = 0.0
      var bestList = -1
      var found = false
      var fi = 0
      while (fi < nF) {
        val f = fines.getStruct(fi, 3)
        val cen = f.getArray(1)
        if (cen.numElements() == dim) {
          var dot = 0.0
          var m = 0
          while (m < dim) { dot += vec.getDouble(m) * cen.getDouble(m); m += 1 }
          val dist = vv + f.getDouble(2) - 2.0 * dot
          if (!found || dist < best) { best = dist; bestList = f.getInt(0); found = true }
        }
        fi += 1
      }
      if (found) { out(oi) = bestList; oi += 1 }
      s += 1
    }
    val trimmed = if (oi == out.length) out else java.util.Arrays.copyOf(out, oi)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(trimmed)
  }

  /** Top-k variant for the ANN side ([[graft.sim.Similarity.ivfTopKTwoLevel]]):
    * the `fineK` (d, list)-lexicographically nearest fine lists over the
    * UNION of the `cProbe` nearest cells' fines (vs [[memberships]]'
    * nearest-fine-PER-cell, the dedup scope) — nearest first, so the
    * FIRST element is the vector's assignment (the closest fine list it
    * can see) and the whole array is its probe set, one kernel pass
    * serving both roles (the ivfTopKFixed `lists` shape). Same
    * arithmetic, tie, and degenerate semantics as [[memberships]]; the
    * top-k insertion is the [[NearestKernel]] discipline with an
    * explicit (d, list) tie-break, so the result is scan-order
    * independent for finite inputs.
    */
  def probeLists(vec: ArrayData, cells: ArrayData, cProbe: Int, fineK: Int): ArrayData = {
    val dim = vec.numElements()
    val nG = cells.numElements()
    val cp = math.min(cProbe, nG)
    var vv = 0.0
    var j = 0
    while (j < dim) { val x = vec.getDouble(j); vv += x * x; j += 1 }
    val bd = new Array[Double](cp)
    val bi = new Array[Int](cp)
    var filled = 0
    var gi = 0
    while (gi < nG) {
      val cell = cells.getStruct(gi, 3)
      val gc = cell.getArray(0)
      if (gc.numElements() == dim) {
        var dot = 0.0
        var m = 0
        while (m < dim) { dot += vec.getDouble(m) * gc.getDouble(m); m += 1 }
        val dist = vv + cell.getDouble(1) - 2.0 * dot
        if (filled < cp) {
          var pos = filled
          while (pos > 0 && dist < bd(pos - 1)) pos -= 1
          var s = filled
          while (s > pos) { bd(s) = bd(s - 1); bi(s) = bi(s - 1); s -= 1 }
          bd(pos) = dist; bi(pos) = gi; filled += 1
        } else if (cp > 0 && dist < bd(cp - 1)) {
          var pos = cp - 1
          while (pos > 0 && dist < bd(pos - 1)) pos -= 1
          var s = cp - 1
          while (s > pos) { bd(s) = bd(s - 1); bi(s) = bi(s - 1); s -= 1 }
          bd(pos) = dist; bi(pos) = gi
        }
      }
      gi += 1
    }
    // lexicographic (d, list) top-fineK over the selected cells' fines
    val fd = new Array[Double](fineK)
    val fl = new Array[Int](fineK)
    var ffill = 0
    def less(d1: Double, l1: Int, d2: Double, l2: Int): Boolean =
      d1 < d2 || (d1 == d2 && l1 < l2)
    var s = 0
    while (s < filled) {
      val fines = cells.getStruct(bi(s), 3).getArray(2)
      val nF = fines.numElements()
      var fi = 0
      while (fi < nF) {
        val f = fines.getStruct(fi, 3)
        val cen = f.getArray(1)
        if (cen.numElements() == dim) {
          var dot = 0.0
          var m = 0
          while (m < dim) { dot += vec.getDouble(m) * cen.getDouble(m); m += 1 }
          val dist = vv + f.getDouble(2) - 2.0 * dot
          val li = f.getInt(0)
          if (ffill < fineK) {
            var pos = ffill
            while (pos > 0 && less(dist, li, fd(pos - 1), fl(pos - 1))) pos -= 1
            var t = ffill
            while (t > pos) { fd(t) = fd(t - 1); fl(t) = fl(t - 1); t -= 1 }
            fd(pos) = dist; fl(pos) = li; ffill += 1
          } else if (fineK > 0 && less(dist, li, fd(fineK - 1), fl(fineK - 1))) {
            var pos = fineK - 1
            while (pos > 0 && less(dist, li, fd(pos - 1), fl(pos - 1))) pos -= 1
            var t = fineK - 1
            while (t > pos) { fd(t) = fd(t - 1); fl(t) = fl(t - 1); t -= 1 }
            fd(pos) = dist; fl(pos) = li
          }
        }
        fi += 1
      }
      s += 1
    }
    val out = if (ffill == fineK) fl else java.util.Arrays.copyOf(fl, ffill)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** [[TwoLevelKernel.memberships]] as a codegen'd expression:
  * (vec array<double>, cells array<struct<gcent,gcc,fines>>) →
  * array<int> of the fine list memberships.
  */
case class TwoLevelMembershipsExpr(left: Expression, right: Expression, cProbe: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_twolevel_members"

  override def nullSafeEval(vec: Any, cells: Any): Any =
    TwoLevelKernel.memberships(vec.asInstanceOf[ArrayData], cells.asInstanceOf[ArrayData], cProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TwoLevelKernel.memberships($a, $b, $cProbe)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TwoLevelMembershipsExpr =
    copy(left = newLeft, right = newRight)
}

/** [[TwoLevelKernel.probeLists]] as a codegen'd expression — the ANN
  * probe set (top-fineK fines over the cProbe nearest cells' union),
  * nearest first.
  */
case class TwoLevelProbesExpr(left: Expression, right: Expression,
                              cProbe: Int, fineK: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_twolevel_probes"

  override def nullSafeEval(vec: Any, cells: Any): Any =
    TwoLevelKernel.probeLists(vec.asInstanceOf[ArrayData], cells.asInstanceOf[ArrayData],
      cProbe, fineK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TwoLevelKernel.probeLists($a, $b, $cProbe, $fineK)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TwoLevelProbesExpr =
    copy(left = newLeft, right = newRight)
}

/** int8 symmetric quantization of an embedding vector, one compiled
  * pass — the payload for the ANN prefilter's LOSSLESS cosine upper
  * bound ([[graft.sim.Similarity]] big-regime near-dup path).
  *
  * For scale `s = max|vᵢ|/127` each component is stored as
  * `qᵢ = round(vᵢ/s) ∈ [-127, 127]` (one signed byte), so
  * `|vᵢ − qᵢ·s| ≤ s/2` and for two quantized vectors the exact dot is
  * bracketed by
  *
  *   |v·w − s_v·s_w·(q_v·q_w)| ≤ (s_w/2)·‖v‖₁ + (s_v/2)·‖w‖₁ + n·s_v·s_w/4
  *
  * (substitute v = s_v·q_v + e, w = s_w·q_w + f with |eᵢ| ≤ s_v/2,
  * |fᵢ| ≤ s_w/2 and expand — the three terms bound Σ|vᵢfᵢ|, Σ|wᵢeᵢ|,
  * Σ|eᵢfᵢ|; the first two use the ORIGINAL components' L1 norms, which
  * is why `l1` ships with the struct). The q·q dot is exact integer
  * arithmetic ([[DotProductI8]]), so the only floating-point slop in
  * the bound is a handful of double roundings — callers inflate by
  * 1e-9 relative, nine orders of magnitude more than needed.
  *
  * Degenerate inputs quantize to states whose bound check can never
  * wrongly DROP a pair the exact rescore would keep: an all-zero (or
  * empty) vector gets s = 0, q = 0, l1 = 0 (bound check degenerates to
  * 0 ≥ 0 — kept, and the exact stage decides); a vector with a NaN or
  * ±Inf component propagates NaN/Inf into s/l1, and Spark's comparison
  * semantics order NaN ABOVE every double, so the NaN bound PASSES the
  * prefilter — such pairs reach the exact stage, whose cosine is also
  * NaN and ALSO passes a `cos >= threshold` filter under the same NaN
  * ordering. Degenerate (zero-norm / non-finite) pairs therefore
  * surface in the threshold paths' output with cos = NaN,
  * CONSISTENTLY in both regimes (prefiltered and catalog — neither
  * filters NaN); only the top-k path excludes them, inside
  * [[graft.sim.Similarity]]'s TopKNeighbors aggregate. Null array or
  * null element → null (the [[DotProduct]] convention).
  */
object QuantKernel {
  val schema: StructType = StructType(Seq(
    StructField("q", BinaryType, nullable = false),
    StructField("s", DoubleType, nullable = false),
    StructField("l1", DoubleType, nullable = false)))

  /** Quantize one vector; null for a null element (caller handles a
    * null array). Two tight passes: absmax+L1, then the byte row.
    */
  def quantize(vec: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = vec.numElements()
    var amax = 0.0
    var l1 = 0.0
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return null
      val a = math.abs(vec.getDouble(i))
      if (a > amax) amax = a // NaN compares false: s stays finite, l1 goes NaN
      l1 += a
      i += 1
    }
    val s = amax / 127.0
    val bytes = new Array[Byte](n)
    if (s != 0.0) { // s == 0: all components are ±0 → bytes stay 0
      i = 0
      while (i < n) {
        val q = Math.round(vec.getDouble(i) / s) // NaN/s or x/Inf → rounds to 0
        bytes(i) = (if (q > 127L) 127L else if (q < -127L) -127L else q).toByte
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bytes, s, l1))
  }

  /** Scalar twin of [[quantize]] for stateful/streaming code
    * ([[graft.streaming.AnnStream]]'s thresholded bucket state): same
    * arithmetic on a dense double array (streams carry no null
    * elements), returns (q, s, l1). QuantScalarSpec pins it equal to
    * the expression form value-for-value.
    */
  def quantizeDoubles(v: Array[Double]): (Array[Byte], Double, Double) = {
    val n = v.length
    var amax = 0.0
    var l1 = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v(i))
      if (a > amax) amax = a
      l1 += a
      i += 1
    }
    val s = amax / 127.0
    val bytes = new Array[Byte](n)
    if (s != 0.0) {
      i = 0
      while (i < n) {
        val q = Math.round(v(i) / s)
        bytes(i) = (if (q > 127L) 127L else if (q < -127L) -127L else q).toByte
        i += 1
      }
    }
    (bytes, s, l1)
  }

  /** Scalar twin of [[graft.sim.Similarity.quantUpper]] — the SAME
    * (est, slack) inequality and 1e-9 relative inflation, so the
    * streaming prefilter's bound semantics can never drift from the
    * batch one's (QuantScalarSpec pins them equal on adversarial
    * vectors). Upper-bounds the exact double dot of the two vectors
    * the structs were quantized from.
    */
  def upperBound(qa: Array[Byte], sa: Double, l1a: Double,
                 qb: Array[Byte], sb: Double, l1b: Double): Double = {
    var dotq = 0L
    val n = math.min(qa.length, qb.length)
    var i = 0
    while (i < n) { dotq += qa(i).toLong * qb(i).toLong; i += 1 }
    val est = sa * sb * dotq.toDouble
    val slack = sb / 2 * l1a + sa / 2 * l1b + qa.length.toDouble * sa * sb / 4
    est + slack + (math.abs(est) + slack) * 1e-9
  }
}

/** [[QuantKernel.quantize]] as a codegen'd expression:
  * `array<double>` → `struct<q: binary, s: double, l1: double>`.
  */
case class QuantizeI8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = QuantKernel.schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_quant_i8"

  override def nullSafeEval(vec: Any): Any =
    QuantKernel.quantize(vec.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
       |${ev.value} = graft.functions.QuantKernel.quantize($a);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): QuantizeI8 =
    copy(child = newChild)
}

/** Exact integer dot product of two int8-quantized vectors (`binary` ×
  * `binary` → `long`; |Σ qᵢrᵢ| ≤ n·127² never overflows). Null if
  * either side is null or lengths differ — the [[DotProduct]]
  * convention transposed to bytes.
  */
case class DotProductI8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot_i8"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) return null
    var acc = 0L
    var i = 0
    while (i < x.length) {
      acc += x(i).toLong * y(i).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.length != $b.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $a.length; $i++) {
         |    $acc += ((long) $a[$i]) * ((long) $b[$i]);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductI8 =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points for graft's native expressions.
  *
  * Built on the public `ExpressionUtils.column/expression` bridge so the
  * expressions work in ANY session (no SparkSessionExtensions registration
  * required — the driver builds its own sessions).
  */
object VectorF {
  private def toCol(e: Expression): Column = Bridge.column(e)
  private def toExpr(c: Column): Expression = Bridge.expression(c)

  /** Codegen'd dot product; callers should pre-cast to `array<double>`
    * once per row (casting inside a per-pair expression would re-cast per
    * pair).
    */
  def dotp(a: Column, b: Column): Column = toCol(DotProduct(toExpr(a), toExpr(b)))

  /** Codegen'd dot product over `array<float>` inputs, accumulated in
    * double (the ANN rescore's halved-payload regime — see
    * [[DotProductFloat]]).
    */
  def dotpF(a: Column, b: Column): Column = toCol(DotProductFloat(toExpr(a), toExpr(b)))

  /** Codegen'd int8 quantizer: `array<double>` → `struct<q, s, l1>`
    * (see [[QuantKernel]] for the lossless-bound contract).
    */
  def quantI8(vec: Column): Column = toCol(QuantizeI8(toExpr(vec)))

  /** Codegen'd exact integer dot of two int8-quantized vectors. */
  def dotpI8(a: Column, b: Column): Column = toCol(DotProductI8(toExpr(a), toExpr(b)))

  /** Codegen'd LSH projections (all planes x tables sums in one pass). */
  def lshProj(vec: Column, nProj: Int): Column =
    toCol(LshProjectionsExpr(toExpr(vec), nProj))

  /** Codegen'd IVF quantizer ranking: nProbe nearest centroid list ids
    * (see [[NearestKernel]]).
    */
  def nearestLists(vec: Column, cents: Column, nProbe: Int): Column =
    toCol(NearestListsExpr(toExpr(vec), toExpr(cents), nProbe))

  /** Codegen'd two-level IVF memberships: nearest fine list within each
    * of the cProbe nearest coarse cells (see [[TwoLevelKernel]]).
    */
  def twoLevelMemberships(vec: Column, cells: Column, cProbe: Int): Column =
    toCol(TwoLevelMembershipsExpr(toExpr(vec), toExpr(cells), cProbe))

  /** Codegen'd two-level ANN probes: top-fineK fine lists over the
    * cProbe nearest cells' union, nearest first (see
    * [[TwoLevelKernel.probeLists]]).
    */
  def twoLevelProbes(vec: Column, cells: Column, cProbe: Int, fineK: Int): Column =
    toCol(TwoLevelProbesExpr(toExpr(vec), toExpr(cells), cProbe, fineK))
}
