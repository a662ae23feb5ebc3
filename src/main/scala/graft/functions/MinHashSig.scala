package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** MinHash signature (`numHashes` permutations) of a shingle array as a
  * static kernel call from Catalyst ([[MinHashUtil.minhashSig]]).
  *
  * Value-identical to the pure-Column construction
  * `array((0 until n).map(i => array_min(transform(sh, s => hash(s, lit(i))
  * .cast("long")))))`: Spark's `hash(s, lit(i))` is Murmur3 over the
  * children in order — `base = murmur3(utf8(s), seed=42)` then
  * `h_i = hashInt(i, base)` — so each string needs ONE byte-level murmur and
  * the 64 per-permutation values are cheap int mixes of it. The Column
  * formulation instead runs 64 interpreted higher-order `transform`
  * traversals per row, each re-hashing every shingle's bytes from scratch
  * (the same interpreted-HOF shape that cost 40× on SimHash before its
  * native kernel — BENCH.md item 6). Here: one tight loop per row,
  * one byte-hash per shingle, 64 mins on the stack.
  *
  * A null element contributes `hashInt(i, 42)` (Spark's Murmur3Hash leaves
  * the running hash unchanged on null children), and an empty array yields
  * an all-`Long.MaxValue` signature — callers guard empties the same way the
  * Column path did (substituting `array(lit(""))`).
  */
object MinHashUtil {

  /** One pass over the shingle array; mins for all `n` seeded permutations. */
  def signature(arr: ArrayData, n: Int): ArrayData = {
    val mins = new Array[Long](n)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val len = arr.numElements()
    var j = 0
    while (j < len) {
      // matches hash(s, lit(i)): seed 42 → murmur3 of the string's UTF-8
      // bytes (skipped when null) → hashInt(i) on the running hash
      val base =
        if (arr.isNullAt(j)) 42
        else {
          val s = arr.getUTF8String(j)
          Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42)
        }
      var i = 0
      while (i < n) {
        val h = Murmur3_x86_32.hashInt(i, base).toLong // .cast("long"): sign-extend
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  def minhashSig(c: Column, numHashes: Int): Column =
    Bridge.staticCall(this, "signature", ArrayType(LongType, containsNull = false),
      Seq(c -> ArrayType(StringType), lit(numHashes) -> IntegerType))
}
