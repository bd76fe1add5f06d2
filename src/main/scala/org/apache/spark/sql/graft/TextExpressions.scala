// Lives under org.apache.spark.sql to access the private[sql] Column<->Expression
// bridge (same pattern as CellExpressions).
package org.apache.spark.sql.graft

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, LongType,
  StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static text-hash kernels referenced from generated code. TOP-LEVEL object
  * (static forwarders — see GraftKernels scaladoc).
  *
  * All hashes are md5-derived and engine-portable: h32(s) == DuckDB
  * `('0x' || substr(md5(s), 1, 8))::BIGINT` == Spark
  * `conv(substring(md5(s),1,8),16,10)` — the first four digest bytes as an
  * unsigned 32-bit big-endian integer.
  *
  * Why kernels instead of column pipelines: the previous formulation
  * (`conv(substring(md5(s),1,8),16,10)` per shingle, shingles via HOF
  * `transform` + `concat_ws`) was the #1 bench cost — HOF lambdas are
  * CodegenFallback (interpreted) in Spark 4, and the hash pipeline allocated
  * three strings per shingle. Here a document's whole shingle set is hashed
  * in ONE kernel call: tokens' bytes are fetched once, each shingle is
  * assembled in a reused buffer, and the digest goes straight to a long.
  */
object GraftTextKernels {

  val MinhashP = 1000000007L

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private def h32digest(md: MessageDigest): Long = {
    val d = md.digest()
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** 60-bit hash from one digest: bits 0-31 = bytes 4-7 (unsigned BE),
    * bits 32-59 = low 28 bits of bytes 0-3. Non-negative by construction. */
  private def h60digest(md: MessageDigest): Long = {
    val d = md.digest()
    val hi = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    val lo = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    ((hi & 0x0fffffffL) << 32) | lo
  }

  /** First-32-bits-of-md5 of a string's UTF-8 bytes as a non-negative long. */
  def h32(s: UTF8String): Long = {
    val md = md5Local.get(); md.reset()
    md.update(s.getBytes)
    h32digest(md)
  }

  /** h32 of every n-gram shingle (n consecutive non-empty tokens joined by a
    * single space) of a token array. Empty tokens are skipped, so callers
    * may pass a raw `split(text, ' ')` — the whole tokenize→shingle→hash
    * pipeline then runs inside one codegen'd call. Fewer than n tokens ⇒
    * empty array (matching the explode-drops-empty semantics).
    */
  def shingleHashes(toks: ArrayData, n: Int): ArrayData =
    shingleHashesImpl(toks, n, wide = false)

  /** [[shingleHashes]] with SIXTY-bit hashes — bits 0-31 from md5 bytes 4-7,
    * bits 32-59 from the low 28 bits of bytes 0-3 (all values non-negative
    * and < 2^60, so BIGINT shifts stay sign-free in both engines). DuckDB
    * mirror: `(('0x'||substr(md5(s),1,8))::BIGINT % 268435456) * 4294967296
    * + ('0x'||substr(md5(s),9,8))::BIGINT`. The entropy budget behind the
    * widened SimHash signature — a 24-bit signature's pigeonhole blocks
    * re-pair quadratically past ~10^5 docs (round-4 verdict), and bit
    * votes beyond the token hash's width are all-minus noise.
    */
  def shingleHashesWide(toks: ArrayData, n: Int): ArrayData =
    shingleHashesImpl(toks, n, wide = true)

  private def shingleHashesImpl(toks: ArrayData, n: Int, wide: Boolean): ArrayData = {
    val mAll = toks.numElements()
    // collect non-empty token bytes once
    var m = 0
    val tb = new Array[Array[Byte]](mAll)
    var i = 0
    while (i < mAll) {
      val t = toks.getUTF8String(i)
      if (t != null && t.numBytes() > 0) { tb(m) = t.getBytes; m += 1 }
      i += 1
    }
    val cnt = m - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.emptyLongArray)
    // reused shingle buffer sized to the widest window
    var winLen = n - 1
    i = 0
    while (i < n) { winLen += tb(i).length; i += 1 }
    var maxLen = winLen
    var j = n
    while (j < m) {
      winLen += tb(j).length - tb(j - n).length
      if (winLen > maxLen) maxLen = winLen
      j += 1
    }
    val buf = new Array[Byte](maxLen)
    val out = new Array[Long](cnt)
    val md = md5Local.get()
    var s = 0
    while (s < cnt) {
      var pos = 0
      var t = 0
      while (t < n) {
        if (t > 0) { buf(pos) = ' '; pos += 1 }
        val b = tb(s + t)
        System.arraycopy(b, 0, buf, pos, b.length)
        pos += b.length
        t += 1
      }
      md.reset(); md.update(buf, 0, pos)
      out(s) = if (wide) h60digest(md) else h32digest(md)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature: per permutation j, min over hashes of
    * `(h·(2j+1) + (12345j+7)) mod P`. Null on an empty hash set (the doc has
    * no shingles — it must not appear in the signature table).
    * No overflow: h < 2^32 and the multiplier < 2^6.
    */
  def minhashSig(hashes: ArrayData, numHashes: Int): ArrayData = {
    val m = hashes.numElements()
    if (m == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < m) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = (h * (2 * j + 1) + (12345L * j + 7)) % MinhashP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Within-document repetition counts over a token array, one pass:
    * `[nTokens, nDistinct, topTokenCount, nBigrams, topBigramCount]`.
    * Counting is by exact token bytes (hash-map, not a 32-bit hash — a
    * truncated hash could collide and overcount at web corpus sizes);
    * bigrams are adjacent tokens space-joined, matching the SQL-oracle
    * formulation. Empty tokens are skipped so callers may pass a raw
    * `split(text, ' ')`. Replaces the O(n·distinct) nested-HOF column form
    * (interpreted CodegenFallback in Spark 4) with O(n) inside codegen.
    */
  def repetitionCounts(toks: ArrayData): ArrayData = {
    val mAll = toks.numElements()
    val tb = new Array[UTF8String](mAll)
    var m = 0
    var i = 0
    while (i < mAll) {
      val t = toks.getUTF8String(i)
      if (t != null && t.numBytes() > 0) { tb(m) = t; m += 1 }
      i += 1
    }
    val sum: java.util.function.BiFunction[Integer, Integer, Integer] =
      (a, b) => Integer.valueOf(a.intValue() + b.intValue())
    val uni = new java.util.HashMap[UTF8String, Integer]()
    var top = 0
    i = 0
    while (i < m) {
      val c = uni.merge(tb(i), Integer.valueOf(1), sum).intValue()
      if (c > top) top = c
      i += 1
    }
    var topB = 0
    if (m >= 2) {
      val bi = new java.util.HashMap[UTF8String, Integer]()
      var j = 0
      while (j < m - 1) {
        val a = tb(j).getBytes; val b = tb(j + 1).getBytes
        val buf = new Array[Byte](a.length + 1 + b.length)
        System.arraycopy(a, 0, buf, 0, a.length)
        buf(a.length) = ' '
        System.arraycopy(b, 0, buf, a.length + 1, b.length)
        val c = bi.merge(UTF8String.fromBytes(buf), Integer.valueOf(1), sum).intValue()
        if (c > topB) topB = c
        j += 1
      }
    }
    new GenericArrayData(
      Array[Long](m, uni.size(), top, math.max(0, m - 1), topB))
  }

  /** All capture groups of the FIRST regex match as array<string> —
    * group-for-group `regexp_extract` semantics (no match or non-
    * participating group ⇒ empty string) but ONE matcher pass for every
    * group, where a query extracting g groups pays g full matches with
    * per-group `regexp_extract` calls. */
  def regexpGroups(p: java.util.regex.Pattern, s: UTF8String): ArrayData = {
    val m = p.matcher(s.toString)
    val n = m.groupCount()
    val arr = new Array[Any](n)
    if (m.find()) {
      var i = 0
      while (i < n) {
        val g = m.group(i + 1)
        arr(i) = if (g == null) UTF8String.EMPTY_UTF8 else UTF8String.fromString(g)
        i += 1
      }
    } else {
      var i = 0
      while (i < n) { arr(i) = UTF8String.EMPTY_UTF8; i += 1 }
    }
    new GenericArrayData(arr)
  }

  /** SimHash signature over per-token hashes: bit b of the result is set iff
    * the sum over tokens of ±1 (by bit b of the token hash) is positive.
    * Null on an empty token set.
    */
  def simhashSig(hashes: ArrayData, bits: Int): java.lang.Long = {
    val m = hashes.numElements()
    if (m == 0) return null
    val votes = new Array[Long](bits)
    var i = 0
    while (i < m) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < bits) {
        votes(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}

/** Text-hash expressions: [[GraftTextKernels]] methods as `StaticInvoke`
  * kernel calls (see [[CellExpressions]]), plus [[RegexpGroups]]. */
object TextExpressions {

  private val longArray = ArrayType(LongType, containsNull = false)
  private val tokens = ArrayType(StringType)

  private def call(fn: String, dataType: DataType, inputTypes: AbstractDataType*)(
      args: Expression*): Expression =
    CellExpressions.kernelCall(GraftTextKernels, fn, dataType, args, inputTypes)

  def h32(s: Expression): Expression = call("h32", LongType, StringType)(s)

  /** h32 of every n-shingle of a token array — array<string> × int → array<long>. */
  def shingleHashes(toks: Expression, n: Expression): Expression =
    call("shingleHashes", longArray, tokens, IntegerType)(toks, n)

  /** MinHash signature array (null when the input set is empty). */
  def minhashSig(hashes: Expression, k: Expression): Expression =
    CellExpressions.kernelCall(GraftTextKernels, "minhashSig", longArray, Seq(hashes, k),
      Seq(ArrayType(LongType), IntegerType), nullOnEmpty = true)

  /** SimHash signature long (null when the input set is empty). */
  def simhashSig(hashes: Expression, bits: Expression): Expression =
    CellExpressions.kernelCall(GraftTextKernels, "simhashSig", LongType, Seq(hashes, bits),
      Seq(ArrayType(LongType), IntegerType), nullOnEmpty = true)

  /** One-pass repetition counts — array<string> → array<long> of
    * [n, distinct, topCnt, nBigrams, topBigramCnt]. */
  def repetitionCounts(toks: Expression): Expression =
    call("repetitionCounts", longArray, tokens)(toks)

  /** All groups of a (literal) pattern in one matcher pass — see
    * [[GraftTextKernels.regexpGroups]]. The compiled pattern is per-instance
    * mutable state (the RegExpExtract caching pattern), so the regex
    * compiles once per task, not per row — state a `StaticInvoke` cannot
    * hold, hence the one hand-written expression. */
  case class RegexpGroups(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    @transient private lazy val compiled = java.util.regex.Pattern.compile(
      right.eval(null).asInstanceOf[UTF8String].toString)
    override protected def nullSafeEval(s: Any, r: Any): Any =
      GraftTextKernels.regexpGroups(compiled, s.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val patCls = "java.util.regex.Pattern"
      val pat = ctx.addMutableState(patCls, "graftRegexpGroupsPattern")
      nullSafeCodeGen(ctx, ev, (s, r) =>
        s"""if ($pat == null) { $pat = $patCls.compile($r.toString()); }
           |${ev.value} =
           |  org.apache.spark.sql.graft.GraftTextKernels.regexpGroups($pat, $s);""".stripMargin)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): RegexpGroups =
      copy(left = l, right = r)
  }

  def regexp_groups(s: Column, pattern: String): Column =
    column(RegexpGroups(expression(s), Literal(pattern)))

  def h32(s: Column): Column = column(h32(expression(s)))

  def shingle_hashes(toks: Column, n: Int): Column =
    column(shingleHashes(expression(toks), Literal(n)))

  def shingle_hashes_wide(toks: Column, n: Int): Column =
    column(call("shingleHashesWide", longArray, tokens, IntegerType)(expression(toks), Literal(n)))

  def minhash_sig(hashes: Column, numHashes: Int): Column =
    column(minhashSig(expression(hashes), Literal(numHashes)))

  def simhash_sig(hashes: Column, bits: Int): Column =
    column(simhashSig(expression(hashes), Literal(bits)))

  def repetition_counts(toks: Column): Column = column(repetitionCounts(expression(toks)))
}
