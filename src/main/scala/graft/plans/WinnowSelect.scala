package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The arguments both winnow expressions take, checked at analysis:
  * a string text and foldable int `k` and `w`, both at least 1.
  */
private[plans] sealed trait WinnowArgs extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string text argument, got " +
          first.dataType.simpleString)
    else if (!Seq(second, third).forall(e =>
        e.dataType == IntegerType && e.foldable))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects foldable int k and w arguments")
    else if (Seq(second, third).exists(e =>
        e.eval() == null || e.eval().asInstanceOf[Int] < 1))
      // w <= 0 would push the window count past the gram count and read
      // out of bounds; fail at analysis, not mid-task
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires k >= 1 and w >= 1")
    else TypeCheckResult.TypeCheckSuccess
}

/** Native winnowing selection: md5 every character `k`-gram of a
  * (pre-normalized) text, keep each `w`-window's minimum, return the
  * sorted distinct selections as `array<string>` of hex digests.
  *
  * The portable path ([[graft.pipeline.TextOps.winnowFingerprints]]'s
  * staged higher-order functions) pays interpreted-expression overhead
  * per gram AND hex-encodes every gram before comparing: at sf0.1 that
  * made q_winnow the most expensive bench query (~8 s). This expression
  * runs the whole selection as one per-row loop — digests compared as
  * raw unsigned bytes (hex encoding is order-preserving, so comparing
  * digests IS comparing their hex strings), a reused thread-local
  * MessageDigest, and hex materialisation only for the selected few.
  * Selection and output order are bit-identical to the staged path, so
  * both stay interchangeable under the q_winnow value oracle.
  *
  * `k`/`w` children must be foldable int literals.
  */
case class WinnowSelect(first: Expression, second: Expression,
    third: Expression) extends WinnowArgs {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_select"

  @transient private lazy val k: Int =
    second.eval().asInstanceOf[Int]
  @transient private lazy val w: Int =
    third.eval().asInstanceOf[Int]

  override protected def nullSafeEval(t: Any, kv: Any, wv: Any): Any =
    WinnowSelect.select(t.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _, _) =>
      s"${ev.value} = graft.plans.WinnowSelect.select($t, $k, $w);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): WinnowSelect =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** [[WinnowSelect]] on `xxhash64` gram hashes (`array<bigint>`, SIGNED
  * minima — the same ordering `array_min` applies to bigint), the
  * native upgrade of the production fold
  * [[graft.pipeline.TextOps.winnowFingerprints64]]. Gram hashes call
  * Spark's own XXH64 with the `xxhash64()` seed, so values are
  * bit-identical to the fold's.
  */
case class WinnowSelect64(first: Expression, second: Expression,
    third: Expression) extends WinnowArgs {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_select64"

  @transient private lazy val k: Int = second.eval().asInstanceOf[Int]
  @transient private lazy val w: Int = third.eval().asInstanceOf[Int]

  override protected def nullSafeEval(t: Any, kv: Any, wv: Any): Any =
    WinnowSelect.select64(t.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _, _) =>
      s"${ev.value} = graft.plans.WinnowSelect.select64($t, $k, $w);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): WinnowSelect64 =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WinnowSelect {

  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private def compareUnsigned(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private val hexChars = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): UTF8String = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = hexChars((bytes(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(bytes(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The full winnowing selection for one text — called from both the
    * interpreted eval and the generated code.
    */
  def select(t: UTF8String, k: Int, w: Int): ArrayData = {
    val n = t.numChars()
    val g = n - k + 1
    if (g < 1) return new GenericArrayData(Array.empty[Any])
    val md = digest.get()
    val digests = new Array[Array[Byte]](g)
    var i = 0
    while (i < g) {
      md.reset()
      digests(i) = md.digest(t.substringSQL(i + 1, k).getBytes)
      i += 1
    }
    // unsigned-byte order on digests == lexicographic order on their hex
    // strings (hex is a monotone byte→chars map), so this TreeSet sorts
    // and dedups exactly like array_sort(array_distinct(...)) on hex
    val selected = new java.util.TreeSet[Array[Byte]](
      new java.util.Comparator[Array[Byte]] {
        def compare(a: Array[Byte], b: Array[Byte]): Int =
          compareUnsigned(a, b)
      })
    val windows = math.max(g - w + 1, 1)
    var j = 0
    while (j < windows) {
      var best = digests(j)
      var c = j + 1
      while (c < j + w && c < g) {
        if (compareUnsigned(digests(c), best) < 0) best = digests(c)
        c += 1
      }
      selected.add(best)
      j += 1
    }
    val out = new Array[Any](selected.size)
    val it = selected.iterator()
    var o = 0
    while (it.hasNext) { out(o) = hex(it.next()); o += 1 }
    new GenericArrayData(out)
  }

  /** The xxhash64 winnowing selection for one text — gram hashes via
    * Spark's XXH64 with the `xxhash64()` function's seed (42), SIGNED
    * long minima, sorted distinct output. Bit-identical to the
    * `xxhash64`-HOF fold.
    */
  def select64(t: UTF8String, k: Int, w: Int): ArrayData = {
    val n = t.numChars()
    val g = n - k + 1
    if (g < 1) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val hashes = new Array[Long](g)
    var i = 0
    while (i < g) {
      val gram = t.substringSQL(i + 1, k)
      hashes(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(gram.getBaseObject, gram.getBaseOffset,
          gram.numBytes, 42L)
      i += 1
    }
    val selected = new java.util.TreeSet[java.lang.Long]()
    val windows = math.max(g - w + 1, 1)
    var j = 0
    while (j < windows) {
      var best = hashes(j)
      var c = j + 1
      while (c < j + w && c < g) {
        if (hashes(c) < best) best = hashes(c)
        c += 1
      }
      selected.add(best)
      j += 1
    }
    val out = new Array[Long](selected.size)
    val it = selected.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
