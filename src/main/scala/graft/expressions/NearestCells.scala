package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Codegen'd IVF cell assignment: the `nprobe` nearest codebook cells of
  * a vector by scaled L2 distance, nearest first — the production
  * assignment/probe kernel of the IVF family (SURVEY §2.7 V3).
  *
  * The first formulation built `array_min`/`array_sort` over an array of
  * per-cell `(d2, id)` structs, with one [[FixedPointDot]] per cell: fine
  * at the 8-cell demo knob, but the √n-cells production shape
  * (hundreds of cells: cells ≈ √n of the corpus)
  * made the expression tree too large for whole-stage codegen and
  * allocation-bound in the interpreter (measured 55 s for a 20k×141-cell
  * assignment pass). This expression is the same argmin as ONE generated
  * loop over a flat codebook matrix riding along as a reference object —
  * no per-cell structs, no per-row allocation beyond the nprobe-sized
  * result.
  *
  * Exactness contract (KMeansSpec pins equality with the struct
  * formulation): distance is the all-integer
  * `Σ round(cᵢ²·1e15) − 2·Σ round(vᵢ·cᵢ·1e15)` with
  * [[FixedPointDot.scaledRound]]'s half-away rounding (the ‖v‖² term is
  * constant per vector and dropped); ties break to the LOWER cell id
  * (cells iterate in ascending-id order and only a strictly smaller
  * distance displaces); null vector elements contribute zero and a
  * shorter vector uses the common prefix — all matching the DuckDB
  * oracle's `QUALIFY row_number() OVER (ORDER BY d2, cl)` replica.
  *
  * @param codebook (cellId, centroid) pairs sorted by ascending cellId
  */
case class NearestCells(child: Expression,
                        codebook: Seq[(Int, Seq[Double])],
                        nprobe: Int)
    extends UnaryExpression {

  require(codebook.nonEmpty && nprobe >= 1, "need cells and nprobe >= 1")
  require(codebook.map(_._1) == codebook.map(_._1).sorted,
    "codebook must be sorted by cell id (tie-break contract)")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  private val np = math.min(nprobe, codebook.size)
  private val dims = codebook.map(_._2.length).max
  /** Flat row-major centroid matrix (ragged rows zero-padded; a zero
    * element contributes round(v·0)=0, exactly like the struct form's
    * shorter-array prefix rule — lengths are uniform in practice). */
  private val flat: Array[Double] = {
    val m = new Array[Double](codebook.size * dims)
    codebook.zipWithIndex.foreach { case ((_, c), k) =>
      c.indices.foreach(i => m(k * dims + i) = c(i))
    }
    m
  }
  private val ids: Array[Int] = codebook.map(_._1).toArray
  /** Per-cell Σ round(cᵢ²·1e15), the constant distance term —
    * precomputed with the same rounding as KMeans.dist2's `dcc`. */
  private val dcc: Array[Long] = codebook.map(
    _._2.map(x => FixedPointDot.scaledRound(x * x)).sum).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val vn = v.numElements()
    val bestD = Array.fill(np)(Long.MaxValue)
    val bestC = new Array[Int](np)
    var k = 0
    while (k < ids.length) {
      var dot = 0L
      val n = math.min(vn, dims)
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i))
          dot += FixedPointDot.scaledRound(v.getDouble(i) * flat(k * dims + i))
        i += 1
      }
      val d2 = dcc(k) - 2L * dot
      if (d2 < bestD(np - 1)) {
        var j = np - 1
        while (j > 0 && d2 < bestD(j - 1)) {
          bestD(j) = bestD(j - 1); bestC(j) = bestC(j - 1); j -= 1
        }
        bestD(j) = d2; bestC(j) = ids(k)
      }
      k += 1
    }
    new GenericArrayData(bestC.take(
      bestD.indexWhere(_ == Long.MaxValue) match {
        case -1 => np
        case m => m
      }).map(Int.box))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("cbFlat", flat, "double[]")
    val idsRef = ctx.addReferenceObj("cbIds", ids, "int[]")
    val dccRef = ctx.addReferenceObj("cbDcc", dcc, "long[]")
    nullSafeCodeGen(ctx, ev, v => {
      val bd = ctx.freshName("bestD")
      val bc = ctx.freshName("bestC")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val d2 = ctx.freshName("d2")
      val p = ctx.freshName("prod")
      val t = ctx.freshName("t")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      s"""
         |long[] $bd = new long[$np];
         |int[] $bc = new int[$np];
         |java.util.Arrays.fill($bd, Long.MAX_VALUE);
         |int $n = java.lang.Math.min($v.numElements(), $dims);
         |for (int $k = 0; $k < ${ids.length}; $k++) {
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$v.isNullAt($i)) {
         |      double $p = $v.getDouble($i) * $flatRef[$k * $dims + $i] * 1.0E15;
         |      double $t;
         |      if ($p >= 0.0) {
         |        $t = java.lang.Math.floor($p);
         |        if ($p - $t >= 0.5) $t += 1.0;
         |      } else {
         |        $t = java.lang.Math.ceil($p);
         |        if ($t - $p >= 0.5) $t -= 1.0;
         |      }
         |      $dot += (long) $t;
         |    }
         |  }
         |  long $d2 = $dccRef[$k] - 2L * $dot;
         |  if ($d2 < $bd[$np - 1]) {
         |    int $j = $np - 1;
         |    while ($j > 0 && $d2 < $bd[$j - 1]) {
         |      $bd[$j] = $bd[$j - 1]; $bc[$j] = $bc[$j - 1]; $j--;
         |    }
         |    $bd[$j] = $d2; $bc[$j] = $idsRef[$k];
         |  }
         |}
         |int $m = $np;
         |for (int $j = 0; $j < $np; $j++) {
         |  if ($bd[$j] == Long.MAX_VALUE) { $m = $j; break; }
         |}
         |int[] $out = new int[$m];
         |System.arraycopy($bc, 0, $out, 0, $m);
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
