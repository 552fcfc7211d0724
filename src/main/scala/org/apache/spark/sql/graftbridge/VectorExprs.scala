/** Lives under `org.apache.spark.sql` so it can use the `private[sql]`
  * pieces a native expression needs (`AbstractDataType` input-type
  * declarations, `ExpressionUtils` Column↔Expression bridging) — the same
  * namespace technique connector libraries use. Engine-facing API is
  * re-exported as `graft.functions.VectorExprs`.
  */
package org.apache.spark.sql.graftbridge

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** A broadcast IVF seed matrix: row-major seeds (nSeeds × dim) plus the
  * per-seed `sqrt(‖seed‖²)`. Codebook payloads ride a BROADCAST VARIABLE,
  * not expression-tree literals: r7 embedded them as case-class fields,
  * which serialized the full matrix into every task binary and printed
  * hundreds of numbers per plan node (`graft_pq_dists(..., 250 more
  * fields)` in the explained plan). A broadcast keeps the plan node O(1) — it
  * prints as `Broadcast(id)` — ships the payload once per executor via
  * torrent instead of once per task, and scales to codebooks far larger
  * than a plan literal should carry. Expressions read it through a
  * transient lazy field (interpreted path) or a one-time-initialized
  * mutable member (codegen path) — never per row.
  */
case class SeedSetF(bc: Broadcast[(Array[Float], Array[Double])], dim: Int) {
  def nSeeds: Int = bc.value._2.length
}

/** A broadcast PQ codebook for one subspace: row-major codes (codes ×
  * sub) plus per-code `‖code‖²`. Same broadcast-over-literal rationale as
  * [[SeedSetF]].
  */
case class CodebookF(bc: Broadcast[(Array[Float], Array[Double])], sub: Int)

/** Native Catalyst expression for the float-vector dot product (SURVEY.md
  * §4 "custom Expression" row; the hot scalar of C2/C3 similarity search).
  *
  * Why not a UDF: a Scala UDF receives `Seq[Float]`, which boxes every
  * element of both arrays on every call — at sf0.1 the kNN join evaluates
  * ~400k pairs × 128 floats of boxing, measured as the dominant cost of
  * the whole query. This expression reads `ArrayData.getFloat` directly
  * (zero allocation) and participates in whole-stage codegen, so the dot
  * product fuses into the join's generated loop.
  *
  * Determinism: strict left-to-right IEEE double accumulation — the exact
  * association the DuckDB oracle SQL replays term by term.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_f"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen plumbing shared by the broadcast-backed expressions: a
  * reference to the broadcast handle plus two lazily-initialized mutable
  * members holding the unpacked float[]/double[] halves — `.value()` runs
  * once per generated-class instance (per task), never per row.
  */
private[graftbridge] trait BroadcastArraysCodegen {
  protected def payloadBc: Broadcast[(Array[Float], Array[Double])]

  @transient protected lazy val floatsArr: Array[Float] = payloadBc.value._1
  @transient protected lazy val doublesArr: Array[Double] = payloadBc.value._2

  /** Returns (floatsVar, doublesVar) member names in generated code. */
  protected def genPayloadMembers(ctx: CodegenContext): (String, String) = {
    val bcRef = ctx.addReferenceObj("payloadBc", payloadBc,
      "org.apache.spark.broadcast.Broadcast")
    val fl = ctx.addMutableState("float[]", "bcFloats",
      v => s"$v = (float[]) ((scala.Tuple2) $bcRef.value())._1();")
    val db = ctx.addMutableState("double[]", "bcDoubles",
      v => s"$v = (double[]) ((scala.Tuple2) $bcRef.value())._2();")
    (fl, db)
  }
}

/** argmax_j cosine(embedding, seed_j) over a broadcast seed matrix — the
  * IVF coarse-quantizer cell assignment as ONE expression node.
  *
  * Why not the Column formulation (`array_position(array(sims...),
  * array_max(array(sims...)))`): each per-seed cosine is a D-term dot
  * chain, the sims array appears twice, and the assignment is used on
  * both sides of the cell join — at 16 seeds × 64 dims that is a
  * ~4·16·64-node expression tree per query, and Catalyst planning +
  * whole-stage codegen of that tree (not row work — the corpus is small)
  * measured as the dominant cost of `c3_ivfpq`. This node replays the
  * identical arithmetic (left-fold double dot, `sim = dot /
  * (sqrt(n2_row) · sqrtSeedN2_j)`, strictly-greater argmax = first max,
  * Spark double ordering) in a flat loop over the broadcast payload.
  */
case class NearestSeedF(left: Expression, right: Expression, seedSet: SeedSetF)
    extends BinaryExpression with ExpectsInputTypes with BroadcastArraysCodegen {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), DoubleType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_seed"

  override protected def payloadBc: Broadcast[(Array[Float], Array[Double])] = seedSet.bc

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val e = a.asInstanceOf[ArrayData]
    val sn = math.sqrt(b.asInstanceOf[Double])
    val seeds = floatsArr
    val sqrts = doublesArr
    val dim = seedSet.dim
    var best = 0.0
    var idx = 0
    var j = 0
    while (j < sqrts.length) {
      var acc = 0.0
      val n = math.min(e.numElements(), dim)
      var i = 0
      while (i < n) { acc += e.getFloat(i).toDouble * seeds(j * dim + i).toDouble; i += 1 }
      val sim = acc / (sn * sqrts(j))
      if (j == 0 || SQLOrderingUtil.compareDoubles(sim, best) > 0) { best = sim; idx = j }
      j += 1
    }
    idx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (seeds, sqrts) = genPayloadMembers(ctx)
      val dim = seedSet.dim
      val (sn, best, idx, sim, acc, n, i, j) = (ctx.freshName("sn"), ctx.freshName("best"),
        ctx.freshName("idx"), ctx.freshName("sim"), ctx.freshName("acc"),
        ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("j"))
      s"""
         |double $sn = java.lang.Math.sqrt($b);
         |double $best = 0.0;
         |int $idx = 0;
         |for (int $j = 0; $j < $sqrts.length; $j++) {
         |  double $acc = 0.0;
         |  int $n = java.lang.Math.min($a.numElements(), $dim);
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ((double) $a.getFloat($i)) * ((double) $seeds[$j * $dim + $i]);
         |  }
         |  double $sim = $acc / ($sn * $sqrts[$j]);
         |  if ($j == 0 || org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles($sim, $best) > 0) {
         |    $best = $sim; $idx = $j;
         |  }
         |}
         |${ev.value} = $idx;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Top-`nprobe` nearest seeds by cosine (descending, ties to the lower
  * seed index), as `array<int>` — the IVF multi-probe knob. Element 0 is
  * always [[NearestSeedF]]'s answer, so `nprobe = 1` degenerates to the
  * single-cell assignment; probing P cells trades P× candidate scan for
  * recall across cell boundaries (the standard IVF recall knob).
  */
case class NearestSeedsF(left: Expression, right: Expression,
    seedSet: SeedSetF, nprobe: Int)
    extends BinaryExpression with ExpectsInputTypes with BroadcastArraysCodegen {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), DoubleType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_seeds"

  override protected def payloadBc: Broadcast[(Array[Float], Array[Double])] = seedSet.bc

  override protected def nullSafeEval(a: Any, b: Any): Any =
    new GenericArrayData(PqKernel.topSeeds(a.asInstanceOf[ArrayData],
      b.asInstanceOf[Double], floatsArr, doublesArr, seedSet.dim, nprobe))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (seeds, sqrts) = genPayloadMembers(ctx)
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  org.apache.spark.sql.graftbridge.PqKernel.topSeeds(
         |    $a, $b, $seeds, $sqrts, ${seedSet.dim}, $nprobe));
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared-L2 distances from one embedding subspace segment to every code
  * of a broadcast PQ codebook, as `array<double>` — the ADC lookup table
  * as ONE node instead of `codes` parallel
  * `dot(seg,seg) - 2·dot(seg,code) + ||code||²` chains (same planning/
  * codegen-blowup rationale as [[NearestSeedF]]; identical arithmetic:
  * `(dss - (2.0 · dsc)) + c2` per code, left-fold double dots).
  *
  * @param offset 0-based first dim of the subspace (the Column version's
  *               `slice(emb, offset+1, sub)`)
  */
case class PqDistsF(child: Expression, offset: Int, book: CodebookF)
    extends UnaryExpression with ExpectsInputTypes with BroadcastArraysCodegen {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_dists"

  override protected def payloadBc: Broadcast[(Array[Float], Array[Double])] = book.bc

  override protected def nullSafeEval(a: Any): Any =
    new GenericArrayData(PqKernel.dists(a.asInstanceOf[ArrayData], offset,
      book.sub, floatsArr, doublesArr))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val (bookArr, c2) = genPayloadMembers(ctx)
      val vals = ctx.freshName("vals")
      s"""
         |double[] $vals = org.apache.spark.sql.graftbridge.PqKernel.dists(
         |  $a, $offset, ${book.sub}, $bookArr, $c2);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($vals);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** argmin over the [[PqDistsF]] table — the PQ sub-code assignment as one
  * node (the Column version's `array_position(arr, array_min(arr)) - 1`:
  * strictly-less argmin = first min, Spark double ordering).
  */
case class PqCodeF(child: Expression, offset: Int, book: CodebookF)
    extends UnaryExpression with ExpectsInputTypes with BroadcastArraysCodegen {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_pq_code"

  override protected def payloadBc: Broadcast[(Array[Float], Array[Double])] = book.bc

  override protected def nullSafeEval(a: Any): Any =
    PqKernel.code(a.asInstanceOf[ArrayData], offset, book.sub, floatsArr, doublesArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val (bookArr, c2) = genPayloadMembers(ctx)
      s"""
         |${ev.value} = org.apache.spark.sql.graftbridge.PqKernel.code(
         |  $a, $offset, ${book.sub}, $bookArr, $c2);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Row kernels shared by eval and generated code (static forwarders make
  * them callable from Janino).
  */
object PqKernel {
  /** ADC table: `(dot(seg,seg) - (2.0 · dot(seg, code))) + ||code||²` per
    * code, left-fold double accumulation — the exact IEEE chain of the
    * Column formulation it replaces.
    */
  def dists(e: ArrayData, offset: Int, sub: Int,
      book: Array[Float], c2s: Array[Double]): Array[Double] = {
    val n = math.max(0, math.min(sub, e.numElements() - offset))
    var dss = 0.0
    var i = 0
    while (i < n) {
      val v = e.getFloat(offset + i).toDouble
      dss += v * v
      i += 1
    }
    val vals = new Array[Double](c2s.length)
    var c = 0
    while (c < c2s.length) {
      var dsc = 0.0
      i = 0
      while (i < n) { dsc += e.getFloat(offset + i).toDouble * book(c * sub + i).toDouble; i += 1 }
      vals(c) = dss - (2.0 * dsc) + c2s(c)
      c += 1
    }
    vals
  }

  /** Top-`nprobe` seed indexes by cosine descending, ties to the lower
    * index (insertion selection — nprobe is small). Same per-seed cosine
    * chain as [[NearestSeedF]], so element 0 always equals its argmax.
    */
  def topSeeds(e: ArrayData, n2: Double, seeds: Array[Float],
      sqrts: Array[Double], dim: Int, nprobe: Int): Array[Int] = {
    val sn = math.sqrt(n2)
    val p = math.min(nprobe, sqrts.length)
    val topIdx = new Array[Int](p)
    val topSim = new Array[Double](p)
    var filled = 0
    var j = 0
    while (j < sqrts.length) {
      var acc = 0.0
      val n = math.min(e.numElements(), dim)
      var i = 0
      while (i < n) { acc += e.getFloat(i).toDouble * seeds(j * dim + i).toDouble; i += 1 }
      val sim = acc / (sn * sqrts(j))
      // insert j if it beats the current tail (strictly — ties keep the
      // earlier, lower-index seed)
      var pos = filled
      while (pos > 0 && SQLOrderingUtil.compareDoubles(sim, topSim(pos - 1)) > 0) pos -= 1
      if (pos < p) {
        val end = math.min(filled, p - 1)
        var k = end
        while (k > pos) { topIdx(k) = topIdx(k - 1); topSim(k) = topSim(k - 1); k -= 1 }
        topIdx(pos) = j
        topSim(pos) = sim
        if (filled < p) filled += 1
      }
      j += 1
    }
    java.util.Arrays.copyOf(topIdx, filled)
  }

  /** First-minimum argmin over [[dists]] (Spark double ordering). */
  def code(e: ArrayData, offset: Int, sub: Int,
      book: Array[Float], c2s: Array[Double]): Int = {
    val vals = dists(e, offset, sub, book, c2s)
    var best = 0.0
    var idx = 0
    var c = 0
    while (c < vals.length) {
      if (c == 0 || SQLOrderingUtil.compareDoubles(vals(c), best) < 0) { best = vals(c); idx = c }
      c += 1
    }
    idx
  }
}

object VectorExprs {
  /** Column-level dot product over two `array<float>` columns. */
  def dotF(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProductFloat(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Broadcast an IVF seed set ONCE per query; the handle is shared by
    * every expression that consults it (both sides of the cell join),
    * so the payload ships once per executor and the plan node stays
    * O(1). Lifecycle rides the ContextCleaner: when the query's columns
    * are unreachable the broadcast blocks are reclaimed.
    */
  def broadcastSeeds(s: SparkSession,
      seeds: Seq[(Seq[Float], Double)]): SeedSetF = {
    require(seeds.nonEmpty, "broadcastSeeds: empty seed set")
    val dim = seeds.head._1.length
    SeedSetF(s.sparkContext.broadcast(
      (seeds.flatMap(_._1).toArray, seeds.map(s => math.sqrt(s._2)).toArray)), dim)
  }

  /** Broadcast one subspace's PQ codebook (row-major codes + per-code
    * `‖code‖²` computed here exactly as the former plan-literal path).
    */
  def broadcastBook(s: SparkSession, book: Seq[Seq[Float]]): CodebookF = {
    require(book.nonEmpty, "broadcastBook: empty codebook")
    CodebookF(s.sparkContext.broadcast(
      (book.flatten.toArray,
        book.map(_.foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble)).toArray)),
      book.head.length)
  }

  /** IVF cell assignment: argmax cosine to a broadcast seed matrix. */
  def nearestSeedF(emb: Column, n2: Column, seeds: SeedSetF): Column =
    ExpressionUtils.column(NearestSeedF(
      ExpressionUtils.expression(emb), ExpressionUtils.expression(n2), seeds))

  /** Top-`nprobe` IVF cells by cosine (the multi-probe recall knob). */
  def nearestSeedsF(emb: Column, n2: Column, seeds: SeedSetF,
      nprobe: Int): Column = {
    require(nprobe >= 1, s"nearestSeedsF: nprobe must be >= 1, got $nprobe")
    ExpressionUtils.column(NearestSeedsF(
      ExpressionUtils.expression(emb), ExpressionUtils.expression(n2),
      seeds, nprobe))
  }

  /** PQ ADC lookup table for one subspace of a broadcast codebook. */
  def pqDistsF(emb: Column, offset: Int, book: CodebookF): Column =
    ExpressionUtils.column(PqDistsF(ExpressionUtils.expression(emb), offset, book))

  /** PQ sub-code (argmin of [[pqDistsF]]) for one subspace. */
  def pqCodeF(emb: Column, offset: Int, book: CodebookF): Column =
    ExpressionUtils.column(PqCodeF(ExpressionUtils.expression(emb), offset, book))
}
