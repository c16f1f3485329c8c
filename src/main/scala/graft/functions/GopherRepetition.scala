package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared eval helper (interpreted and generated code call the same one). */
object GopherUtil {

  /** The Gopher repetition numerators of one document, in
    * `top ++ dup` width order:
    *  - top width n: the most frequent n-gram's count × its character
    *    length (count ties: the smallest [[HashUtil.md5Hash60]] wins);
    *  - dup width n: the characters covered by the occurrences of every
    *    n-gram that occurs at least twice, as the union of their token
    *    intervals: a new island starts iff its first token lies past the
    *    running maximum end, and an island over tokens a..b covers the
    *    words' characters plus the b − a separators inside it (two
    *    abutting occurrences are two islands, so the space between them
    *    is not covered).
    * Words are `split(text, " ")` (limit -1: empty tokens kept), a gram
    * is its words joined by single spaces, and characters are code
    * points ([[UTF8String.numChars]]). A width wider than the document
    * gives 0.
    *
    * Splitting on the 0x20 byte is exact on UTF-8 (no multi-byte
    * sequence contains it), and a gram is the text's own byte range from
    * its first word's start to its last word's end, so no gram string is
    * ever built. */
  def profile(text: UTF8String, top: Array[Int], dup: Array[Int])
      : ArrayData = {
    val b = text.getBytes
    var nw = 1
    var k = 0
    while (k < b.length) { if (b(k) == ' ') nw += 1; k += 1 }
    // word w spans bytes start(w) until end(w); cum(w) = chars of words
    // 0 until w
    val start = new Array[Int](nw)
    val end = new Array[Int](nw)
    val cum = new Array[Long](nw + 1)
    var w = 0
    var chars = 0L
    k = 0
    while (k < b.length) {
      if (b(k) == ' ') {
        end(w) = k; cum(w + 1) = cum(w) + chars; chars = 0L
        w += 1; start(w) = k + 1
      } else if ((b(k) & 0xc0) != 0x80) chars += 1
      k += 1
    }
    end(w) = b.length
    cum(w + 1) = cum(w) + chars

    // per width: gram -> (occurrence count, first token), and occ(i) =
    // the cell of the gram at token i
    val counts = new java.util.HashMap[UTF8String, Array[Int]]()
    val occ = new Array[Array[Int]](nw)
    def countGrams(n: Int): Unit = {
      counts.clear()
      var i = 0
      while (i <= nw - n) {
        val g = UTF8String.fromBytes(b, start(i), end(i + n - 1) - start(i))
        var c = counts.get(g)
        if (c == null) { c = Array(0, i); counts.put(g, c) }
        c(0) += 1
        occ(i) = c
        i += 1
      }
    }
    // characters of tokens a..z (inclusive) with their z - a separators
    def span(a: Int, z: Int): Long = cum(z + 1) - cum(a) + (z - a)

    val out = new Array[Long](top.length + dup.length)
    var t = 0
    while (t < top.length) {
      val n = top(t)
      if (nw >= n) {
        countGrams(n)
        var best = 0
        var i = 0
        while (i <= nw - n) { best = math.max(best, occ(i)(0)); i += 1 }
        // hash only the grams tied at the top count
        var bestHash = Long.MaxValue
        var bestPos = -1
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue()(0) == best) {
            val h = HashUtil.md5Hash60(e.getKey)
            if (h < bestHash) { bestHash = h; bestPos = e.getValue()(1) }
          }
        }
        out(t) = best.toLong * span(bestPos, bestPos + n - 1)
      }
      t += 1
    }
    var d = 0
    while (d < dup.length) {
      val n = dup(d)
      if (nw >= n) {
        countGrams(n)
        var covered = 0L
        var a = -1 // current island's first token, -1 before the first
        var runMax = -1 // running maximum end token
        var i = 0
        while (i <= nw - n) {
          if (occ(i)(0) >= 2) {
            if (i > runMax) {
              if (a >= 0) covered += span(a, runMax)
              a = i
            }
            runMax = math.max(runMax, i + n - 1)
          }
          i += 1
        }
        if (a >= 0) covered += span(a, runMax)
        out(top.length + d) = covered
      }
      d += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Gopher repetition profile (Rae et al. 2021, table A1): one pass
  * per document yields the nine integer numerators q151's fractions and
  * keep verdict divide and compare — the top n-gram mass for each width
  * of `topWidths`, then the duplicated n-gram coverage for each width of
  * `dupWidths` ([[GopherUtil.profile]]). The value is identical to the
  * relational form (per-width gram counts, a window ranking, a
  * gaps-and-islands union and a prefix-sum join), which shuffled at
  * every count, window and join for a result with no cross-document
  * dependency; the native pass shuffles nothing.
  *
  * Null text yields null. */
case class GopherRepetition(child: Expression, topWidths: Seq[Int],
    dupWidths: Seq[Int]) extends UnaryExpression {
  require((topWidths ++ dupWidths).forall(_ >= 1),
    s"n-gram widths must be >= 1, got $topWidths / $dupWidths")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "gopher_repetition"

  @transient private lazy val top = topWidths.toArray
  @transient private lazy val dup = dupWidths.toArray

  override def nullSafeEval(input: Any): Any =
    GopherUtil.profile(input.asInstanceOf[UTF8String], top, dup)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val topRef = ctx.addReferenceObj("topWidths", top, "int[]")
    val dupRef = ctx.addReferenceObj("dupWidths", dup, "int[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GopherUtil.profile($c, $topRef, $dupRef)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object GopherRepetition {
  def apply(text: Column, topWidths: Seq[Int], dupWidths: Seq[Int])
      : Column =
    Bridge.column(GopherRepetition(Bridge.expression(text), topWidths,
      dupWidths))
}
