package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: distinct hashed word-bigram shingles of a text
  * column, in ONE per-row pass. The gram hash is a field:
  *
  *  - `md5 = false`: xxhash64 (seed 42), the engine-native hash.
  *    Semantically equal to the composed
  *    `transform(array_distinct(transform(sequence(...), i -> concat(
  *    element_at(w,i), '_', element_at(w,i+1)))), x -> xxhash64(x))`
  *    pipeline (modulo astronomically-unlikely xxhash64 collisions in
  *    the distinct step), and bit-identical to it: word splitting and
  *    hashing call the same UTF8String.split / XxHash64Function code
  *    paths as the built-in `split`/`xxhash64` (a spec asserts this).
  *  - `md5 = true`: the PORTABLE hash — the digest's lower 4 bytes,
  *    big-endian unsigned, so the DuckDB oracle reproduces each gram
  *    hash exactly (`('0x' || substr(md5(gram), 25, 8))::UBIGINT % p`).
  *
  * ~20× cheaper than the composed form: Spark's higher-order functions
  * are CodegenFallback AND re-evaluate the `split` child per element,
  * so the composed form re-tokenizes a document O(words) times per
  * evaluation — and a self-join evaluates it once per join side (the
  * composed md5 chain measured 10.3 s for `llm_minhash_portable` at
  * sf0.1 vs ~1 s native).
  *
  * `mod` > 0 reduces each hash with the same floor-modulus as
  * `pmod(h, mod)` — the form the MinHash signature expression
  * consumes — BEFORE the dedup, so the output is distinct in its
  * reduced form. Fewer-than-two tokens yield an empty array (matching
  * the guarded composed form and DuckDB's `range(n-1)`).
  */
case class HashedBigrams(child: Expression, mod: Long, md5: Boolean)
    extends UnaryExpression {

  require(mod >= 0 && mod <= Int.MaxValue,
    "mod must be in [0, 2^31) so a*h+b stays within Long downstream")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_bigrams"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HashedBigramsHelper.compute(input.asInstanceOf[UTF8String], mod, md5)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = ctx.addReferenceObj("bigramsHelper", HashedBigramsHelper,
      HashedBigramsHelper.getClass.getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $helper.compute($c, ${mod}L, $md5);")
  }

  override protected def withNewChildInternal(newChild: Expression): HashedBigrams =
    copy(child = newChild)
}

// Serializable: the codegen path ships this object in the plan's
// reference array (addReferenceObj)
object HashedBigramsHelper extends Serializable {
  private val Space = UTF8String.fromString(" ")
  private val Underscore = UTF8String.fromString("_")
  // MessageDigest is stateful — one per thread, reset per use
  @transient private lazy val md5Digest =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Shared by the interpreted and generated paths — one implementation,
    * zero parity risk. */
  def compute(s: UTF8String, mod: Long, md5: Boolean): ArrayData = {
    // identical tokenization to the built-in split(text, ' ') (regex,
    // limit -1: trailing empty tokens kept)
    val words = s.split(Space, -1)
    val n = words.length
    if (n < 2) return new GenericArrayData(Array.emptyLongArray)
    val digest = if (md5) md5Digest.get() else null
    val seen = new java.util.HashSet[java.lang.Long](n * 2)
    val out = new Array[Long](n - 1)
    var m = 0
    var i = 0
    while (i < n - 1) {
      val gram = UTF8String.concat(words(i), Underscore, words(i + 1))
      var h =
        if (md5) {
          digest.reset()
          val d = digest.digest(gram.getBytes)
          // lower 4 digest bytes, big-endian unsigned — the hex tail
          // substr(md5hex, 25, 8) both engines agree on
          ((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
            ((d(14) & 0xffL) << 8) | (d(15) & 0xffL)
        } else XxHash64Function.hash(gram, StringType, 42L)
      if (mod > 0) { h = h % mod; if (h < 0) h += mod }
      if (seen.add(h)) {
        out(m) = h
        m += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }
}

object HashedBigrams {
  private def of(text: Column, mod: Long, md5: Boolean): Column =
    GraftSqlBridge.column(HashedBigrams(GraftSqlBridge.expression(text), mod, md5))
  /** Raw 64-bit xxhash64 gram hashes. */
  def apply(text: Column): Column = of(text, 0L, md5 = false)
  /** xxhash64 gram hashes reduced to [0, mod) — MinHash input form. */
  def apply(text: Column, mod: Long): Column = of(text, mod, md5 = false)
  /** Portable md5 gram hashes reduced to [0, mod) — MinHash input form. */
  def md5(text: Column, mod: Long): Column = of(text, mod, md5 = true)
}
