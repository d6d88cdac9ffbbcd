package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass text-shingling kernels. The equivalent built-in
  * higher-order-function chains (transform/slice/concat_ws/array_min) are
  * interpreted element-by-element by Catalyst — on web-scale dedup they were
  * the dominant cost (~50× slower than compiled passes measured at sf0.1).
  * These run one compiled pass per row and stay inside whole-stage codegen
  * via static calls. */
object ShingleKernel {

  private def tokenize(str: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](64)
    var i = 0
    val n = str.length
    while (i < n) {
      while (i < n && Character.isWhitespace(str.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(str.charAt(i))) i += 1
      if (i > start) out += str.substring(start, i)
    }
    out.toArray
  }

  private def hashShingle(toks: Array[String], from: Int, k: Int, seed: Long): Long = {
    val sb = new java.lang.StringBuilder(32)
    var j = 0
    while (j < k) {
      if (j > 0) sb.append(' ')
      sb.append(toks(from + j))
      j += 1
    }
    val u = UTF8String.fromString(sb.toString)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), seed)
  }

  /** Distinct word-k-shingle hashes (seed 42 = Spark's xxhash64 default),
    * sorted ascending — the verify-side set representation. */
  def hashedShingles(s: UTF8String, k: Int): ArrayData = {
    val toks = tokenize(s.toString)
    val n = toks.length - k + 1
    if (n <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(hashShingle(toks, i, k, 42L)); i += 1 }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Word-k-shingle hashes in POSITION order (duplicates kept), one per
    * token position `0 .. n_tokens-k` — the span-level-dedup representation
    * (which token ranges are duplicated), where [[hashedShingles]]'s
    * distinct sorted set is the doc-level one (how similar two docs are). */
  def positionalShingles(s: UTF8String, k: Int): ArrayData = {
    val toks = tokenize(s.toString)
    val n = toks.length - k + 1
    if (n <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = hashShingle(toks, i, k, 42L); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** MinHash signature: for perm p in [0, nPerms), min over shingles of
    * xxhash64(shingle, p). Bit-identical to the Column composition
    * `transform(seq, p -> array_min(transform(shingles, xxhash64(_, p))))` —
    * Spark's multi-arg xxhash64 FOLDS (seed 42 → string bytes → int p), so
    * the base string hash is shared and each perm is one integer mix. */
  def minhashSig(s: UTF8String, k: Int, nPerms: Int): ArrayData = {
    val toks = tokenize(s.toString)
    val n = toks.length - k + 1
    val sig = Array.fill(nPerms)(Long.MaxValue)
    if (n > 0) {
      var i = 0
      while (i < n) {
        val base = hashShingle(toks, i, k, 42L)
        var p = 0
        while (p < nPerms) {
          val h = XXH64.hashInt(p, base)
          if (h < sig(p)) sig(p) = h
          p += 1
        }
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Jaccard of two SORTED long arrays via a merge walk — O(|a|+|b|). */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na.toLong + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

case class HashedShingles(child: Expression, k: Int) extends UnaryExpression
    with org.apache.spark.sql.graft.GraftExpectsInputTypes {
  override def expectedInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleKernel.hashedShingles(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernel.hashedShingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

case class PositionalShingles(child: Expression, k: Int) extends UnaryExpression
    with org.apache.spark.sql.graft.GraftExpectsInputTypes {
  override def expectedInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleKernel.positionalShingles(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernel.positionalShingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): PositionalShingles =
    copy(child = newChild)
}

case class MinHashSig(child: Expression, k: Int, nPerms: Int) extends UnaryExpression
    with org.apache.spark.sql.graft.GraftExpectsInputTypes {
  override def expectedInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleKernel.minhashSig(v.asInstanceOf[UTF8String], k, nPerms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernel.minhashSig($c, $k, $nPerms)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

case class SortedLongJaccard(left: Expression, right: Expression) extends BinaryExpression
    with org.apache.spark.sql.graft.GraftExpectsInputTypes {
  override def expectedInputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ShingleKernel.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ShingleKernel.sortedJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedLongJaccard =
    copy(left = l, right = r)
}
