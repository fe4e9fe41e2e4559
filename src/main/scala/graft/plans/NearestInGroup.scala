package graft.plans

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Grouped sibling of [[NearestCentroid]]: nearest codeword of an
  * `array<double>` vector among ONLY its own group's codewords — the
  * group key (PQ subspace `m`) is a second child expression, and the
  * codebook is a bounded per-group model riding along as reference
  * objects. This retires the sort-aggregate argmin shape (equi-join on
  * the group key → `groupBy(vec_id, m)` → `min(struct)`), whose
  * non-hash-aggregable buffers externally sort n·k_g rows carrying
  * full vectors — the same physical failure the flat E-step hit at
  * the sf10 scaling point, here bounded only by today's small k_g.
  *
  * The metric is the argMIN of the 4-dp-rounded squared L2 via the
  * dot-product identity `dot(a,a) − 2·dot(a,b) + dot(b,b)` (three
  * index-ordered folds, the exact IEEE expression the DuckDB oracle
  * replays; NaN ranks GREATEST per Spark double ordering, so it loses
  * the min).
  *
  * Corner semantics, matching the aggregate verbatim
  * (NearestInGroupSpec pins them): ties keep the SMALLEST codeword
  * id (ascending iteration, strict improvement); a malformed vector
  * (length ≠ dim, or a null element) scores nothing and lands on
  * `(smallest id in its group, null score)` — exactly where an
  * all-null score column sends `min(struct)` (null orders first ⇒
  * wins min ⇒ id tie-break). A group key absent from the
  * codebook yields a NULL struct — the row the old inner equi-join
  * dropped; callers filter `isNotNull` where that contract matters.
  *
  * Per-codeword squared norms are precomputed once per expression in
  * the same index order the folds use (a bit-identical hoist), so the
  * per-row loop is one dot product per codeword.
  */
case class NearestInGroup(
    left: Expression,  // group key (long)
    right: Expression, // vector (array<double>)
    groupKeys: Array[Long],       // sorted ascending
    ids: Array[Array[Long]],      // per group, ascending codeword ids
    flat: Array[Array[Double]],   // per group, row-major k_g x dim
    dim: Int)
    extends BinaryExpression {

  require(groupKeys.nonEmpty, "NearestInGroup needs a non-empty codebook")
  require(groupKeys.length == ids.length && ids.length == flat.length,
    "groupKeys/ids/flat must be parallel")
  require(ids.forall(_.nonEmpty), "every group needs at least one codeword")
  require(ids.zip(flat).forall { case (i, f) => f.length == i.length * dim },
    s"per-group matrix must be k_g x dim=$dim")

  private lazy val normSq: Array[Array[Double]] = flat.map { f =>
    val k = f.length / dim
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      var ny = 0.0
      var i = 0
      val base = c * dim
      while (i < dim) { val yv = f(base + i); ny += yv * yv; i += 1 }
      out(c) = ny
      c += 1
    }
    out
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (g, v) => TypeCheckResult.TypeCheckFailure(
        s"nearest_in_group expects (bigint, array<double>), got " +
          s"${g.simpleString} / ${v.simpleString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("best_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = true)))

  // null on a missing group key (or null children)
  override def nullable: Boolean = true

  override def prettyName: String = "nearest_in_group"

  override def toString: String =
    s"nearest_in_group($left, $right, groups=${groupKeys.length}, " +
      s"dim=$dim, d2)"

  override def nullSafeEval(g: Any, v: Any): Any = {
    val gi = java.util.Arrays.binarySearch(groupKeys, g.asInstanceOf[Long])
    if (gi < 0) return null
    val gIds = ids(gi)
    val gFlat = flat(gi)
    val gNorm = normSq(gi)
    val x = v.asInstanceOf[ArrayData]
    var bestId = gIds(0)
    var bestScore = 0.0
    var bestNull = true
    if (x.numElements() == dim) {
      var hasNull = false
      var j = 0
      while (j < dim && !hasNull) { if (x.isNullAt(j)) hasNull = true; j += 1 }
      if (!hasNull) {
        val xs = new Array[Double](dim)
        var nx = 0.0
        var i = 0
        while (i < dim) {
          val xv = x.getDouble(i); xs(i) = xv; nx += xv * xv; i += 1
        }
        val k = gIds.length
        var c = 0
        while (c < k) {
          var dotp = 0.0
          var i2 = 0
          val base = c * dim
          while (i2 < dim) { dotp += xs(i2) * gFlat(base + i2); i2 += 1 }
          val score = NearestCentroid.round4(nx - 2.0 * dotp + gNorm(c))
          if (bestNull || java.lang.Double.compare(score, bestScore) < 0) {
            bestNull = false; bestScore = score; bestId = gIds(c)
          }
          c += 1
        }
      }
    }
    new GenericInternalRow(Array[Any](bestId, if (bestNull) null else bestScore))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keysRef = ctx.addReferenceObj("nigKeys", groupKeys, "long[]")
    val idsRef = ctx.addReferenceObj("nigIds", ids, "long[][]")
    val flatRef = ctx.addReferenceObj("nigFlat", flat, "double[][]")
    val normRef = ctx.addReferenceObj("nigNorm", normSq, "double[][]")
    val xbuf = ctx.addMutableState("double[]", "nigXbuf",
      v => s"$v = new double[$dim];")
    val gi = ctx.freshName("gi")
    val gIds = ctx.freshName("gIds")
    val gFlat = ctx.freshName("gFlat")
    val gNorm = ctx.freshName("gNorm")
    val bestId = ctx.freshName("bestId")
    val bestScore = ctx.freshName("bestScore")
    val bestNull = ctx.freshName("bestNull")
    val hasNull = ctx.freshName("hasNull")
    val nx = ctx.freshName("nx")
    val c = ctx.freshName("c")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val i2 = ctx.freshName("i2")
    val dotp = ctx.freshName("dotp")
    val xv = ctx.freshName("xv")
    val raw = ctx.freshName("raw")
    val score = ctx.freshName("score")
    val base = ctx.freshName("base")
    val vals = ctx.freshName("vals")
    nullSafeCodeGen(ctx, ev, (g, v) =>
      s"""
         |int $gi = java.util.Arrays.binarySearch($keysRef, $g);
         |if ($gi < 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $gIds = $idsRef[$gi];
         |  double[] $gFlat = $flatRef[$gi];
         |  double[] $gNorm = $normRef[$gi];
         |  long $bestId = $gIds[0];
         |  double $bestScore = 0.0;
         |  boolean $bestNull = true;
         |  if ($v.numElements() == $dim) {
         |    boolean $hasNull = false;
         |    for (int $j = 0; $j < $dim; $j++) {
         |      if ($v.isNullAt($j)) { $hasNull = true; break; }
         |    }
         |    if (!$hasNull) {
         |      double $nx = 0.0;
         |      for (int $i = 0; $i < $dim; $i++) {
         |        double $xv = $v.getDouble($i);
         |        $xbuf[$i] = $xv;
         |        $nx += $xv * $xv;
         |      }
         |      for (int $c = 0; $c < $gIds.length; $c++) {
         |        double $dotp = 0.0;
         |        int $base = $c * $dim;
         |        for (int $i2 = 0; $i2 < $dim; $i2++) {
         |          $dotp += $xbuf[$i2] * $gFlat[$base + $i2];
         |        }
         |        double $raw = $nx - 2.0 * $dotp + $gNorm[$c];
         |        double $score;
         |        if (Double.isNaN($raw) || Double.isInfinite($raw)) {
         |          $score = $raw;
         |        } else {
         |          $score = java.math.BigDecimal.valueOf($raw)
         |            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue();
         |        }
         |        if ($bestNull || java.lang.Double.compare($score, $bestScore) < 0) {
         |          $bestNull = false; $bestScore = $score; $bestId = $gIds[$c];
         |        }
         |      }
         |    }
         |  }
         |  Object[] $vals = new Object[2];
         |  $vals[0] = (Object) $bestId;
         |  $vals[1] = $bestNull ? null : (Object) $bestScore;
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($vals);
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestInGroup {
  /** Column-API entry point. `codebook` maps each group key to its
    * (ascending codeword ids, row-major k_g × dim matrix); entries are
    * sorted by group key internally.
    */
  def nearestInGroup(group: Column, vec: Column,
                     codebook: Seq[(Long, (Array[Long], Array[Double]))],
                     dim: Int): Column = {
    val sorted = codebook.sortBy(_._1)
    sorted.foreach { case (g, (i, _)) =>
      require(i.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
        s"codeword ids in group $g must be strictly ascending")
    }
    GraftBridge.column(NearestInGroup(
      GraftBridge.expression(group), GraftBridge.expression(vec),
      sorted.map(_._1).toArray,
      sorted.map(_._2._1).toArray,
      sorted.map(_._2._2).toArray,
      dim))
  }
}
