package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document Kirsch–Mitzenmacher MinHash signatures: all `seeds`
  * minima of one document's shingle set in one native pass over the
  * set, as a narrow per-row expression. The near-dup tier keeps one row
  * per document (its distinct capped shingle set), so a signature needs
  * no `groupBy(doc_id)`: the expression reads the set where it lies.
  *
  * Per shingle the i-th candidate is `(h1 + i·h2) mod p`, and the
  * signature keeps the minimum per seed. The base hashes come in two
  * modes, each bit-identical to the column formulation it replaces
  * (`DedupSpec` pins both against `min(pmod(h1 + i·h2, p))` over the
  * exploded rows):
  *  - md5 (the DuckDB-portable parity hash): h1 and h2 are the 48-bit
  *    big-endian integers of md5 digest bytes 0–5 and 8–13, which is
  *    `conv(substring(md5(sh), 1, 12), 16, 10)` and
  *    `conv(substring(md5(sh), 17, 12), 16, 10)`;
  *  - xxhash64 (the fast path): `xxhash64(sh)` and `xxhash64(sh, 1L)`,
  *    Spark's seed-42 chaining.
  * Both are reduced mod p once, so the incremental step's single
  * conditional subtract keeps every candidate below p < 2^53, and
  * `(a%p + i·(b%p)) mod p ≡ (a + i·b) mod p` keeps the minima
  * identical for any long inputs.
  *
  * An empty or null set has no signature (null): a document without
  * shingles must not get a constant signature whose band keys would
  * collide with every other such document. Null elements are skipped,
  * as the aggregate skipped rows with a null hash.
  */
object MinHashKernels {

  private val md5Digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** The 48-bit big-endian integer of `d(from until from + 6)`. */
  private def bytes48(d: Array[Byte], from: Int): Long = {
    var v = 0L
    var i = from
    while (i < from + 6) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  def sigs(shs: ArrayData, seeds: Int, prime: Long, md5: Boolean): ArrayData = {
    val n = shs.numElements()
    val buf = Array.fill(seeds)(Long.MaxValue)
    var any = false
    val md = if (md5) md5Digest.get() else null
    var j = 0
    while (j < n) {
      if (!shs.isNullAt(j)) {
        val s = shs.getUTF8String(j)
        var a = 0L
        var b = 0L
        if (md5) {
          val d = md.digest(s.getBytes)
          a = bytes48(d, 0)
          b = bytes48(d, 8)
        } else {
          a = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
          b = XXH64.hashLong(1L, a)
        }
        val av = java.lang.Math.floorMod(a, prime)
        val bv = java.lang.Math.floorMod(b, prime)
        var i = 0
        var cand = av
        while (i < seeds) {
          if (cand < buf(i)) buf(i) = cand
          // (a + (i+1)·b) ≡ (cand + b) mod p: one add and one
          // conditional subtract per seed instead of a mul and a mod
          cand += bv
          if (cand >= prime) cand -= prime
          i += 1
        }
        any = true
      }
      j += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(buf) else null
  }
}

/** array<bigint>: the `seeds` KM MinHash minima of an array<string>
  * shingle set; null for an empty set (see [[MinHashKernels]]). */
case class MinHashSigsOf(child: Expression, seeds: Int, prime: Long, md5: Boolean)
    extends UnaryExpression {

  require(seeds > 0 && prime > 0, s"need positive dims, got $seeds seeds mod $prime")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires array<string>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    MinHashKernels.sigs(input.asInstanceOf[ArrayData], seeds, prime, md5)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.plans.MinHashKernels.sigs($c, $seeds, ${prime}L, $md5);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigs {
  import org.apache.spark.sql.{Column, GraftColumnBridge}

  /** Column API: `sigs(shs, seeds, prime, md5)` → `array<long>` of the
    * per-seed KM minima of the set `shs`. */
  def sigs(shs: Column, seeds: Int, prime: Long, md5: Boolean): Column =
    GraftColumnBridge.column(
      MinHashSigsOf(GraftColumnBridge.expression(shs), seeds, prime, md5))
}
