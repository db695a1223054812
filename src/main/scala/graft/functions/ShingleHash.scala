package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_hash(text, n)` — the distinct word n-gram shingle hashes of a
  * document in ONE byte scan: `array_distinct(transform(shingles(text, n),
  * s => pmod(xxhash64(s), P)))` without ever materializing a shingle
  * string.
  *
  * The trick that makes this exact rather than approximate: `split(text,
  * " ")` tokens rejoined with `" "` reconstruct the input verbatim (the
  * separator is always the single byte 0x20, which cannot occur inside a
  * multi-byte UTF-8 sequence), so the shingle `concat_ws(" ", slice(w, i,
  * n))` IS the byte range of the original string from the start of token
  * i to the end of token i+n-1 — and Spark's `xxhash64` of that substring
  * is `XXH64.hashUnsafeBytes` over exactly those bytes (seed 42).
  * Hashing the range in place yields bit-identical values to the HOF
  * chain, including the edge cases: consecutive/leading/trailing spaces
  * produce empty tokens, and a doc shorter than n words yields its whole
  * text as the one clamped shingle.
  *
  * Distinctness is by hash value rather than by shingle string — for the
  * MinHash signature (a min over the array) the two are interchangeable
  * (min over a multiset equals min over its support), and for the array
  * itself they differ only under an xxhash64 collision between two
  * shingles of one document.
  *
  * Replaces the interpreted lambda chain (split -> transform(sequence,
  * concat_ws(slice)) -> array_distinct -> transform(xxhash64)) that
  * allocated one transient UTF8String per shingle per document — the
  * dominant cost of the MinHash dedup stack at the 100x scale point.
  */
case class ShingleHash(child: Expression, n: Int, raw: Boolean = false)
    extends StringKernel {

  def fnName: String = if (raw) "shingle_hash64" else "shingle_hash"

  require(n >= 1, s"$fnName needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** `raw = false`: MinHash domain — `pmod(xxhash64(shingle), P)` with
    * `P = TextOps.P` (2^31 − 1), the permutation modulus the signature
    * math runs in. `raw = true` (the `shingle_hash64` registration):
    * the UNREDUCED 64-bit xxhash64, bit-identical to
    * `xxhash64(shingle)` on the materialized string — the join-key
    * domain decontamination uses, where a 31-bit space would make
    * cross-document birthday collisions routine at benchmark-index
    * scale. */
  def compute(s: UTF8String): Any = {
    val nb = s.numBytes()
    val m = Tokens.count(s)
    val starts = Tokens.starts(s, m)
    val nWin = math.max(m - n + 1, 1)
    // distinct via a per-row open-addressed set (power-of-two capacity)
    var cap = 4
    while (cap < nWin * 2) cap <<= 1
    val table = new Array[Long](cap)
    val usedF = new Array[Boolean](cap)
    val out = new Array[Long](nWin)
    var cnt = 0
    var w = 0
    while (w < nWin) {
      val s0 = starts(w)
      val e = Tokens.end(starts, math.min(w + n - 1, m - 1), nb) // slice clamps short docs
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset + s0, e - s0,
        ShingleHash.Seed)
      val hp = if (raw) h else {
        val r = h % graft.ext.TextOps.P
        if (r < 0) r + graft.ext.TextOps.P else r // pmod
      }
      var idx = java.lang.Long.hashCode(hp) & (cap - 1)
      var dup = false
      while (usedF(idx) && !dup) {
        if (table(idx) == hp) dup = true
        else idx = (idx + 1) & (cap - 1)
      }
      if (!dup) {
        usedF(idx) = true
        table(idx) = hp
        out(cnt) = hp
        cnt += 1
      }
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (cnt == out.length) out else java.util.Arrays.copyOf(out, cnt))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHash =
    copy(child = newChild)
}

object ShingleHash {
  /** Spark's `xxhash64` default seed. */
  val Seed = 42L
}
