package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expressions for vector math.
  *
  * The composable alternative (`zip_with` + `aggregate` higher-order
  * functions) is interpreted per element — fine for one-off scoring, hot
  * death for the O(n·q·d) loops of similarity search. These generate a
  * tight primitive double loop inside whole-stage codegen: no lambda
  * dispatch, no boxing, no intermediate arrays.
  *
  * Accumulation order is left-to-right, identical to the fold-based
  * formulation, so results are bit-identical and oracle comparisons are
  * unaffected.
  */
object VectorExpressions {

  /** cosine(a, b) = dot/(‖a‖·‖b‖) over ARRAY<DOUBLE>, single pass. */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_sim"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val xi = ctx.freshName("xi")
        val yi = ctx.freshName("yi")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xi = $a.getDouble($i);
           |  double $yi = $b.getDouble($i);
           |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** dot(a, b) over ARRAY<DOUBLE>, single codegen'd pass. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "dot_product"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var i = 0
      while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
      dot
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0;
           |for (int $i = 0; $i < $n; $i++) $dot += $a.getDouble($i) * $b.getDouble($i);
           |${ev.value} = $dot;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** The `nprobe` nearest centroids of `child` by inner-product score
    * (argmax v·c − ‖c‖²/2 ≡ argmin Euclidean), descending score, ties to
    * the smaller cell id — ONE expression node regardless of k.
    *
    * Why this exists (r8): the original formulation built one
    * struct(score, idx) sub-expression PER centroid and took
    * `greatest(...)` — fine at the bench's k=8/16, but a k=800 IVF
    * (the honest cell count for a 500k-vector corpus at constant cell
    * size) produced an 800-term tree with 800 inline array literals
    * that pinned the DRIVER in Catalyst transforms for tens of minutes
    * before a single task ran (measured by the ×100 probe). Here the
    * centroid matrix rides the plan as a single reference object:
    * tree size O(1), per-row cost the inherent O(k·d) flops, codegen'd.
    */
  /** Opaque value-semantics holder for a centroid matrix carried INSIDE
    * an expression. A raw `Seq[Seq[Double]]` case-class field renders all
    * k×dim doubles (~1 MB at k=800) through EVERY string path —
    * `Expression.toString`'s `flatArguments`, TreeNode's `argString`,
    * cache names, explain — and plan strings repeat expressions across
    * nodes: at the ×100 probe scale that burned 10+ driver-CPU-minutes
    * (and pre-cap, OOM'd) building `CachedRDDBuilder.cachedName` before
    * any task ran. The holder prints its SHAPE only; equality/hashCode
    * are deep value semantics so expression canonicalization and
    * semanticEquals still work.
    */
  final class CentroidMatrix(val rows: Array[Array[Double]]) extends Serializable {
    override def toString: String =
      s"centroids[${rows.length}x${rows.headOption.map(_.length).getOrElse(0)}]"
    override def equals(o: Any): Boolean = o match {
      case c: CentroidMatrix =>
        java.util.Arrays.deepEquals(rows.asInstanceOf[Array[AnyRef]],
          c.rows.asInstanceOf[Array[AnyRef]])
      case _ => false
    }
    override def hashCode: Int =
      java.util.Arrays.deepHashCode(rows.asInstanceOf[Array[AnyRef]])
  }

  case class NearestCells(child: Expression, cents: CentroidMatrix, nprobe: Int)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "nearest_cells"

    @transient private lazy val mat: Array[Array[Double]] = cents.rows
    @transient private lazy val halves: Array[Double] =
      mat.map(c => { var s = 0.0; var i = 0; while (i < c.length) { s += c(i) * c(i); i += 1 }; s / 2.0 })

    /** Shared by eval and the generated code (via reference object):
      * top-np selection over the k scores, insertion into fixed arrays.
      */
    private[functions] def select(v: ArrayData): Array[Int] =
      NearestCells.run(v, mat, halves, nprobe)

    override def nullSafeEval(input: Any): Any =
      new GenericArrayData(select(input.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("nearestCells", this,
        classOf[NearestCells].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($self.select($v));")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object NearestCells {
    private[functions] def run(v: ArrayData, mat: Array[Array[Double]],
                               halves: Array[Double], nprobe: Int): Array[Int] = {
      val d = v.numElements()
      val k = mat.length
      val np = math.min(nprobe, k)
      val bestScore = Array.fill(np)(Double.NegativeInfinity)
      val bestIdx = Array.fill(np)(Int.MaxValue)
      var c = 0
      while (c < k) {
        val cent = mat(c)
        val n = math.min(d, cent.length)
        var dot = 0.0; var i = 0
        while (i < n) { dot += v.getDouble(i) * cent(i); i += 1 }
        val score = dot - halves(c)
        var pos = np
        while (pos > 0 && (score > bestScore(pos - 1) ||
          (score == bestScore(pos - 1) && c < bestIdx(pos - 1)))) pos -= 1
        if (pos < np) {
          var j = np - 1
          while (j > pos) { bestScore(j) = bestScore(j - 1); bestIdx(j) = bestIdx(j - 1); j -= 1 }
          bestScore(pos) = score; bestIdx(pos) = c
        }
        c += 1
      }
      // NaN scores never pass either insertion predicate, so a vector
      // with a NaN component (corrupt embedding) would otherwise emit the
      // Int.MaxValue sentinel — a PHANTOM cell that collects every
      // corrupt row into one self-joining bucket (and an out-of-range
      // codebook index in the PQ encode path). Fill unfilled slots with
      // the smallest real cell ids not already selected: corrupt vectors
      // land in real cells, where the exact-rescore's NaN cosine fails
      // every tau filter and they drop out downstream.
      if (np > 0 && bestIdx(np - 1) == Int.MaxValue) {
        var fill = 0
        var j = 0
        while (j < np) {
          if (bestIdx(j) == Int.MaxValue) {
            while (fill < k && bestIdx.indexOf(fill) >= 0) fill += 1
            bestIdx(j) = if (fill < k) fill else k - 1
          }
          j += 1
        }
      }
      bestIdx
    }
  }

  /** Opaque value-semantics holder for a residual-PQ codebook stack
    * `[level][subspace][centroid][dim]` — same rationale as
    * [[CentroidMatrix]]: a raw nested Seq field would render every
    * double through all of TreeNode's string paths. Prints shape only;
    * deep equality for canonicalization. */
  final class CodebookStack(val levels: Array[Array[Array[Array[Double]]]])
      extends Serializable {
    override def toString: String = {
      val m = levels.headOption.map(_.length).getOrElse(0)
      val k = levels.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
      val d = levels.headOption.flatMap(_.headOption).flatMap(_.headOption)
        .map(_.length).getOrElse(0)
      s"codebooks[${levels.length}x${m}x${k}x$d]"
    }
    override def equals(o: Any): Boolean = o match {
      case c: CodebookStack =>
        java.util.Arrays.deepEquals(levels.asInstanceOf[Array[AnyRef]],
          c.levels.asInstanceOf[Array[AnyRef]])
      case _ => false
    }
    override def hashCode: Int =
      java.util.Arrays.deepHashCode(levels.asInstanceOf[Array[AnyRef]])
  }

  /** The full residual-PQ encode of one raw vector — L2-normalize ONCE,
    * then per subspace walk the levels: nearest centroid by
    * inner-product score (identical selection semantics to
    * [[NearestCells]] at nprobe=1, including the NaN-corrupt-vector
    * fill to cell 0), subtract it, quantize the remainder at the next
    * level. Output is the level-major `m·levels` code array
    * ([[graft.operators.Similarity.pqEncodeResidual]]'s contract).
    *
    * Why native (r13): the Column formulation composed `unitVec` (whose
    * norm aggregate sat INSIDE the transform lambda — O(dim²) when the
    * higher-order context evaluates interpreted) into every per-code
    * residual tree with no CSE across the m·levels codes — measured
    * 4 ms/row at the defaults, 8 s to encode a 2000-row corpus (sf0.1,
    * local[32]). This node does the inherent
    * O(dim + levels·m·ksub·dsub) flops in one tight JVM pass (~µs/row),
    * carries the codebooks as ONE reference object (O(1) plan size),
    * and stays inside whole-stage codegen.
    */
  case class PqEncode(child: Expression, books: CodebookStack)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "pq_encode"

    @transient private lazy val mats = books.levels
    /** halves(l)(s)(c) = ‖c‖²/2 (the constant term of the score). */
    @transient private lazy val halves: Array[Array[Array[Double]]] =
      mats.map(_.map(_.map(c => {
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i) * c(i); i += 1 }
        s / 2.0
      })))

    private[functions] def encode(v: ArrayData): Array[Int] =
      PqEncode.run(v, mats, halves)

    override def nullSafeEval(input: Any): Any =
      new GenericArrayData(encode(input.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($self.encode($v));")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object PqEncode {
    private[functions] def run(v: ArrayData,
                               mats: Array[Array[Array[Array[Double]]]],
                               halves: Array[Array[Array[Double]]]): Array[Int] = {
      val levels = mats.length
      val m = mats(0).length
      val dsub = mats(0)(0)(0).length
      val d = v.numElements()
      // L2-normalize once (zero vector passes through as zeros — the
      // unitVec contract)
      var sq = 0.0
      var i = 0
      while (i < d) { val x = v.getDouble(i); sq += x * x; i += 1 }
      val norm = math.sqrt(sq)
      val codes = new Array[Int](levels * m)
      val sub = new Array[Double](dsub)
      var s = 0
      while (s < m) {
        var j = 0
        while (j < dsub) {
          val idx = s * dsub + j
          val x = if (idx < d) v.getDouble(idx) else 0.0
          sub(j) = if (norm > 0) x / norm else 0.0
          j += 1
        }
        var l = 0
        while (l < levels) {
          val cb = mats(l)(s)
          val hv = halves(l)(s)
          // NearestCells nprobe=1 selection verbatim: strictly-better
          // replaces; a NaN score passes neither predicate, so an
          // all-NaN row keeps the sentinel and falls to cell 0 (the
          // corrupt-vector fill — downstream exact rescore drops it)
          var bestScore = Double.NegativeInfinity
          var bestIdx = Int.MaxValue
          var c = 0
          while (c < cb.length) {
            val cent = cb(c)
            val n = math.min(dsub, cent.length)
            var dot = 0.0; var q = 0
            while (q < n) { dot += sub(q) * cent(q); q += 1 }
            val score = dot - hv(c)
            if (score > bestScore || (score == bestScore && c < bestIdx)) {
              bestScore = score; bestIdx = c
            }
            c += 1
          }
          if (bestIdx == Int.MaxValue) bestIdx = 0
          codes(l * m + s) = bestIdx
          val cent = cb(bestIdx)
          var q = 0
          val n = math.min(dsub, cent.length)
          while (q < n) { sub(q) -= cent(q); q += 1 }
          l += 1
        }
        s += 1
      }
      codes
    }
  }

  def pq_encode(vec: Column, books: Seq[Array[Array[Array[Double]]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec),
      new CodebookStack(books.map(_.map(_.map(_.clone()))).toArray)))

  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def nearest_cells(vec: Column, cents: Array[Array[Double]], nprobe: Int): Column =
    ColumnBridge.column(NearestCells(ColumnBridge.expression(vec),
      new CentroidMatrix(cents.map(_.clone())), nprobe))
}
