package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass SimHash-64 as a native Catalyst expression: tokenize on
  * whitespace, xxhash64(token, seed=42) per token (identical hashes to
  * Spark's built-in `xxhash64`), sign-sum each of the 64 bits, emit the
  * majority bitmap. Equivalent to the 64-aggregate Column composition in
  * `graft.ops.DedupOps.simhash` but one data pass and codegen-friendly
  * (static call, stays inside whole-stage codegen). */
object SimHash64Function {
  def compute(s: UTF8String): Long = {
    val counts = new Array[Int](64)
    val str = s.toString
    var i = 0
    val n = str.length
    while (i < n) {
      while (i < n && Character.isWhitespace(str.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(str.charAt(i))) i += 1
      if (i > start) {
        val tok = UTF8String.fromString(str.substring(start, i))
        val h = XXH64.hashUnsafeBytes(tok.getBaseObject, tok.getBaseOffset, tok.numBytes(), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

case class SimHash64(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.graft.GraftExpectsInputTypes {
  override def expectedInputTypes: Seq[DataType] = Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SimHash64Function.compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64Function.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object functions {
  import org.apache.spark.sql.graft.Bridge
  /** SimHash-64 of a string column (whitespace tokens). */
  def simhash64(c: Column): Column = Bridge.column(SimHash64(Bridge.expression(c)))
  /** Sorted distinct word-k-shingle hashes of a string column. */
  def hashed_shingles(c: Column, k: Int): Column =
    Bridge.column(HashedShingles(Bridge.expression(c), k))
  /** Word-k-shingle hashes in position order (duplicates kept). */
  def positional_shingles(c: Column, k: Int): Column =
    Bridge.column(PositionalShingles(Bridge.expression(c), k))
  /** MinHash signature (nPerms mins of seeded xxhash64 over word k-shingles). */
  def minhash_sig(c: Column, k: Int, nPerms: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(c), k, nPerms))
  /** Jaccard similarity of two sorted long-array columns. */
  def sorted_jaccard(a: Column, b: Column): Column =
    Bridge.column(SortedLongJaccard(Bridge.expression(a), Bridge.expression(b)))
}
