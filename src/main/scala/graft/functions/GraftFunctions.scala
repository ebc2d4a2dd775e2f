package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ExpressionColumns.{column, expression}

/**
 * Column-level API and SQL registration for graft's custom Catalyst
 * expressions.
 *
 * The Column helpers build the expression case classes directly, so
 * DataFrame code needs nothing from the session. [[register]] is for SQL
 * text only: it installs the same expressions into a session's function
 * registry under their SQL names (the BQ-dialect layer relies on this for
 * `FARM_FINGERPRINT` in user scripts; [[graft.GraftExtensions]] injects the
 * same [[builders]] cluster-wide).
 */
object GraftFunctions {

  /** Constant-parameter extraction for the SQL builders: these functions
    * take their tuning parameters as literals (a non-foldable or
    * wrong-typed argument in SQL text should fail analysis with a message,
    * not crash the builder with a ClassCastException). */
  private def constLongs(e: Expression, fn: String, arg: String): Seq[Long] = {
    require(e.foldable, s"$fn: $arg must be a constant array")
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
    (e.eval(), e.dataType) match {
      case (ad: ArrayData, ArrayType(LongType, _)) => ad.toLongArray().toSeq
      case (ad: ArrayData, ArrayType(IntegerType, _)) => ad.toIntArray().map(_.toLong).toSeq
      case _ => throw new IllegalArgumentException(
        s"$fn: $arg must be a non-null integer array, got ${e.dataType.catalogString}")
    }
  }

  private def constInt(e: Expression, fn: String, arg: String): Int = {
    require(e.foldable, s"$fn: $arg must be a constant integer")
    e.eval() match {
      case i: Int => i
      case l: Long => math.toIntExact(l)
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a non-null integer, got $other")
    }
  }

  /** The full custom-expression surface as (identifier, info, builder)
    * triples — one list shared by session-level [[register]] and the
    * cluster-wide [[graft.GraftExtensions]] injection path, so the two can
    * never drift. */
  val builders: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("farm_fingerprint"),
      new ExpressionInfo(classOf[FarmFingerprint].getName, "farm_fingerprint"),
      (children: Seq[Expression]) => FarmFingerprint(children.head)),
    (FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "sorted_intersect_size"),
      (children: Seq[Expression]) => SortedIntersectSize(children(0), children(1))),
    (FunctionIdentifier("affine_minhash"),
      new ExpressionInfo(classOf[AffineMinHash].getName, "affine_minhash"),
      (children: Seq[Expression]) => AffineMinHash(children(0),
        constLongs(children(1), "affine_minhash", "a"),
        constLongs(children(2), "affine_minhash", "b"))),
    (FunctionIdentifier("dot_f64"),
      new ExpressionInfo(classOf[DotF64].getName, "dot_f64"),
      (children: Seq[Expression]) => DotF64(children(0), children(1))),
    (FunctionIdentifier("shingle_set"),
      new ExpressionInfo(classOf[ShingleSet].getName, "shingle_set"),
      (children: Seq[Expression]) => ShingleSet(children(0),
        constInt(children(1), "shingle_set", "n"))),
    (FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(classOf[WinnowFp].getName, "winnow_fp"),
      (children: Seq[Expression]) => WinnowFp(children(0),
        constInt(children(1), "winnow_fp", "k"),
        constInt(children(2), "winnow_fp", "w"))),
    (FunctionIdentifier("mask_intersect_bits"),
      new ExpressionInfo(classOf[MaskIntersectBits].getName, "mask_intersect_bits"),
      (children: Seq[Expression]) => MaskIntersectBits(children(0), children(1))),
    (FunctionIdentifier("greedy_pair_count"),
      new ExpressionInfo(classOf[GreedyPairCount].getName, "greedy_pair_count"),
      (children: Seq[Expression]) => GreedyPairCount(children(0),
        constLongs(children(1), "greedy_pair_count", "pairs"))))

  /** Makes the expressions callable by name from `spark`'s SQL text. */
  def register(spark: SparkSession): Unit = {
    if (!isRegistered(spark)) {
      builders.foreach { case (id, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
      }
    }
  }

  private def isRegistered(spark: SparkSession): Boolean =
    spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("farm_fingerprint"))

  /** BigQuery-compatible FARM_FINGERPRINT as a Column op. */
  def farm_fingerprint(c: Column): Column = column(FarmFingerprint(expression(c)))

  /** |A ∩ B| of two sorted distinct string arrays. */
  def sorted_intersect_size(a: Column, b: Column): Column =
    column(SortedIntersectSize(expression(a), expression(b)))

  /** Full MinHash signature: min of each affine permutation. */
  def affine_minhash(hashes: Column, a: Seq[Long], b: Seq[Long]): Column =
    column(AffineMinHash(expression(hashes), a, b))

  /** Index-ordered dot product of two double arrays. */
  def dot_f64(a: Column, b: Column): Column = column(DotF64(expression(a), expression(b)))

  /** Sorted distinct n-word shingles of a string. */
  def shingle_set(text: Column, n: Int): Column = column(ShingleSet(expression(text), n))

  /** Distinct winnowing fingerprints of a string. */
  def winnow_fp(text: Column, k: Int, w: Int): Column =
    column(WinnowFp(expression(text), k, w))

  /** popcount(a & b) of two equal-length long-array bitmasks. */
  def mask_intersect_bits(a: Column, b: Column): Column =
    column(MaskIntersectBits(expression(a), expression(b)))

  /** Greedy 2-cp-piece subword count under an encoded merge table. */
  def greedy_pair_count(word: Column, pairs: Seq[Long]): Column =
    column(GreedyPairCount(expression(word), pairs))
}
