package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.ColumnBridge

/** All NumSub PQ code assignments as ONE native codegen kernel — the
  * [[NearestCentroid]] "k is DATA, not code" pattern applied to the PQ
  * encode step. For a row's vector, subspace s reads elements
  * [s*subDim, (s+1)*subDim) and returns the code of the codeword
  * maximizing the L2 argmax surrogate 2*dot(sub, cw) - |cw|^2 (|sub|^2
  * is constant per row and drops out), larger score wins, larger code
  * breaks ties — exactly the contract of the literal
  * `array_max(array(struct(score, code)))` tree this replaces, whose
  * per-arm expression weight (NumSub x CodebookK codeword dots inlined
  * as Catalyst nodes) dominated q_ann_recall's construction/codegen
  * cost (OPTIMIZATION_r14.md §7; OPTIMIZATION_r15.md §4 measured the
  * cold-vs-warm gap at ~1.5 s across the three ADC arms).
  *
  * Arithmetic is bit-compatible with the literal path: the dot is the
  * same ascending sequential fold in double over min(|sub|, |cw|)
  * elements ([[DotProduct]]), the codeword norm^2 rides in PRECOMPUTED
  * driver-side by the same left-to-right sum the literal path used, and
  * double comparison is SQL's total order ([[NearestCentroid.cmp]]:
  * NaN greatest, NaN == NaN, -0.0 == 0.0). A vector shorter than
  * (s+1)*subDim contributes only its available elements (the slice +
  * min-length-dot semantics of the literal form).
  *
  * `cbs(s)` is subspace s's codebook as (code, codeword, norm^2); the
  * pooled-codebook callers pass the same codebook NumSub times.
  * Codes/codewords are referenced by the generated code as plain
  * arrays — codebook size changes the DATA, never the generated class.
  */
case class PqCodes(child: Expression,
                   cbs: Seq[Seq[(Int, Seq[Double], Double)]],
                   subDim: Int)
    extends UnaryExpression {
  require(cbs.nonEmpty && cbs.forall(_.nonEmpty), "pq_codes: empty codebook")
  require(subDim > 0, "pq_codes: subDim must be positive")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_codes requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
    }

  // primitive mirrors of the Seq payload, built once per executor instance
  @transient private lazy val codes: Array[Array[Int]] =
    cbs.map(_.map(_._1).toArray).toArray
  @transient private lazy val cvs: Array[Array[Array[Double]]] =
    cbs.map(_.map(_._2.toArray).toArray).toArray
  @transient private lazy val cn2s: Array[Array[Double]] =
    cbs.map(_.map(_._3).toArray).toArray

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val isF = elemIsFloat
    val out = new Array[Int](codes.length)
    var s = 0
    while (s < codes.length) {
      val off = s * subDim
      // elements the slice would expose for this subspace
      val avail = math.max(0, math.min(subDim, v.numElements() - off))
      var bestS = 0.0
      var bestC = 0
      var first = true
      var j = 0
      while (j < codes(s).length) {
        val cw = cvs(s)(j)
        val n = math.min(avail, cw.length)
        var d = 0.0
        var i = 0
        while (i < n) {
          val xv = if (isF) v.getFloat(off + i).toDouble
                   else v.getDouble(off + i)
          d += xv * cw(i)
          i += 1
        }
        val score = 2.0 * d - cn2s(s)(j)
        val better = if (first) true else {
          val c = NearestCentroid.cmp(score, bestS)
          c > 0 || (c == 0 && codes(s)(j) > bestC)
        }
        if (better) { bestS = score; bestC = codes(s)(j); first = false }
        j += 1
      }
      out(s) = bestC
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    val codesRef = ctx.addReferenceObj("pqc_codes", codes, "int[][]")
    val cvsRef = ctx.addReferenceObj("pqc_cvs", cvs, "double[][][]")
    val cn2Ref = ctx.addReferenceObj("pqc_cn2s", cn2s, "double[][]")
    val cls = classOf[NearestCentroid].getName
    val gad = classOf[GenericArrayData].getName
    val out = ctx.freshName("pqOut"); val s = ctx.freshName("pqS")
    val off = ctx.freshName("pqOff"); val avail = ctx.freshName("pqAvail")
    val bestS = ctx.freshName("pqBestS"); val bestC = ctx.freshName("pqBestC")
    val firstV = ctx.freshName("pqFirst"); val j = ctx.freshName("pqJ")
    val cw = ctx.freshName("pqCw"); val n = ctx.freshName("pqN")
    val d = ctx.freshName("pqD"); val i = ctx.freshName("pqI")
    val score = ctx.freshName("pqScore"); val better = ctx.freshName("pqBetter")
    val c = ctx.freshName("pqC")
    nullSafeCodeGen(ctx, ev, v => s"""
      int[] $out = new int[$codesRef.length];
      for (int $s = 0; $s < $codesRef.length; $s++) {
        int $off = $s * $subDim;
        int $avail = Math.max(0, Math.min($subDim, $v.numElements() - $off));
        double $bestS = 0.0; int $bestC = 0; boolean $firstV = true;
        for (int $j = 0; $j < $codesRef[$s].length; $j++) {
          double[] $cw = $cvsRef[$s][$j];
          int $n = Math.min($avail, $cw.length);
          double $d = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $d += (double) $v.$get($off + $i) * $cw[$i];
          }
          double $score = 2.0 * $d - $cn2Ref[$s][$j];
          boolean $better;
          if ($firstV) { $better = true; } else {
            int $c = $cls.cmp($score, $bestS);
            $better = $c > 0 || ($c == 0 && $codesRef[$s][$j] > $bestC);
          }
          if ($better) { $bestS = $score; $bestC = $codesRef[$s][$j]; $firstV = false; }
        }
        $out[$s] = $bestC;
      }
      ${ev.value} = new $gad($out);""")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
  override def prettyName: String = "pq_codes"
}

object PqCodes {
  /** array<int> of per-subspace nearest codes; `cbs(s)` =
    * (code, codeword, precomputed |codeword|^2) rows of subspace s's
    * codebook. */
  def pq_codes(v: Column, cbs: Seq[Seq[(Int, Seq[Double], Double)]],
               subDim: Int): Column =
    ColumnBridge.column(PqCodes(ColumnBridge.expression(v), cbs, subDim))
}
