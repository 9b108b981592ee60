package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Bloom-filter primitives shared by the build side (BloomPrune's typed
  * Aggregator) and the probe side (the BloomMightContain expression):
  * double hashing h_i = h1 + i*h2 over a splitmix64 finalizer — the
  * standard Kirsch-Mitzenmacher construction, one 64-bit hash per key
  * regardless of numHashes. Both sides call THESE functions, so build
  * and probe can never disagree on bit positions (the classic bloom
  * deployment bug).
  */
object BloomUtil {
  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 + splitmix64 finalizer for strings: FNV alone is too
    * structured (low bits correlate on short keys). Integral keys go to
    * [[set]] / [[mightContain]] directly, which mix them.
    */
  def hashString(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** Bit position `i` of a key whose hashes are `h1` and odd `h2`. */
  private def position(h1: Long, h2: Long, i: Int, numBits: Int): Int =
    java.lang.Long.remainderUnsigned(h1 + i * h2, numBits).toInt

  def set(words: Array[Long], key: Long, numHashes: Int): Unit = {
    val numBits = words.length * 64
    val h1 = mix64(key)
    val h2 = mix64(h1) | 1L // odd => h_i cycles all positions
    var i = 0
    while (i < numHashes) {
      val idx = position(h1, h2, i, numBits)
      words(idx >>> 6) |= (1L << (idx & 63))
      i += 1
    }
  }

  /** The codegen'd probe: reads the broadcast bitmap in place. */
  def mightContain(words: ArrayData, key: Long, numHashes: Int): Boolean = {
    val numBits = words.numElements() * 64
    val h1 = mix64(key)
    val h2 = mix64(h1) | 1L
    var i = 0
    while (i < numHashes) {
      val idx = position(h1, h2, i, numBits)
      if ((words.getLong(idx >>> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def mightContain(words: Array[Long], key: Long, numHashes: Int): Boolean = {
    val numBits = words.length * 64
    val h1 = mix64(key)
    val h2 = mix64(h1) | 1L
    var i = 0
    while (i < numHashes) {
      val idx = position(h1, h2, i, numBits)
      if ((words(idx >>> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** Probe-side native expression: true iff every hash position of `key`
  * is set in the `bloom` bitmap (array<bigint>). Codegen'd — the probe
  * runs inside whole-stage codegen against a broadcast one-row bitmap,
  * so pruning a 100 TB scan costs two multiplies and numHashes bit
  * tests per row.
  */
case class BloomMightContain(left: Expression, right: Expression, numHashes: Int)
    extends BinaryExpression {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override protected def nullSafeEval(bloom: Any, key: Any): Any =
    BloomUtil.mightContain(bloom.asInstanceOf[ArrayData],
      key.asInstanceOf[Number].longValue, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (bloom, key) =>
      s"graft.functions.BloomUtil.mightContain($bloom, (long)$key, $numHashes)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
