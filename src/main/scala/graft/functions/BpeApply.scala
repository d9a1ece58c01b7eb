package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE segmentation: apply a trained merge list to every
  * `[a-z]+` word of a (lowercased-in-here) document and emit the
  * flattened token array — semantically IDENTICAL to
  * [[graft.text.BpeTrain]]'s chained-`replace` formulation (which
  * remains the DuckDB oracle twin, bit-equality spec-asserted):
  * per merge in rank order, adjacent (lhs, rhs) segments merge greedy
  * leftmost-nonoverlapping.
  *
  * Why a custom Expression: the fold-of-replaces form rebuilds the
  * `|l||r|`-delimited segment string once per merge per word —
  * nMerges interpreted HOF passes with a regex cleanup each, measured
  * ~60% of q_bpe_encode's bench cost. This expression runs the whole
  * per-word merge loop in one JVM pass over a segment buffer (no
  * delimiter strings, no regex), called once per document.
  *
  * The merge list arrives as a FOLDABLE string literal
  * (`lhs RS rhs` units joined by GS, rank order — see [[BpeApply.packMerges]]),
  * parsed once per expression instance, so the codegen call is a
  * plain method on the document and the already-parsed merges.
  */
case class BpeApply(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_bpe_apply requires a foldable merge-list literal")
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_apply requires (string, string), got $other")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_apply"

  // the foldable merge literal, parsed once per expression instance
  // (re-parsed after deserialization on an executor, never per row)
  @transient private lazy val merges: Array[Array[String]] =
    BpeApply.parse(right.eval().asInstanceOf[UTF8String])

  override def nullSafeEval(text: Any, packed: Any): Any =
    BpeApply.compute(text.asInstanceOf[UTF8String], merges)

  // the parsed list rides into generated code as a reference object
  // (Spark's foldable-argument idiom), so the per-row call never
  // sees the packed string
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpeMerges", merges, "java.lang.String[][]")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.functions.BpeApply$$.MODULE$$.compute($t, $m);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeApply =
    copy(left = newLeft, right = newRight)
}

object BpeApply {

  /** Unit / record separators for the packed merge literal — control
    * chars cannot appear in `[a-z]+` merge halves.
    */
  private val RS = '\u001e'
  private val GS = '\u001d'

  /** Pack (lhs, rhs) merges (rank order) into the literal format. */
  def packMerges(merges: Seq[(String, String)]): String =
    merges.map { case (l, r) => s"$l$RS$r" }.mkString(GS.toString)

  /** Unpack the literal into (lhs, rhs) pairs, rank order; a null or
    * empty literal is the empty merge list.
    */
  private def parse(packed: UTF8String): Array[Array[String]] =
    if (packed == null || packed.numBytes() == 0) Array.empty
    else packed.toString.split(GS).map { unit =>
      val i = unit.indexOf(RS)
      Array(unit.substring(0, i), unit.substring(i + 1))
    }

  /** Tokenize one document: lowercase, split on whitespace, keep
    * `[a-z]+` words, apply every merge greedy-leftmost per word,
    * flatten. Matches the chained-replace SQL twin bit for bit.
    */
  def compute(text: UTF8String, merges: Array[Array[String]]): ArrayData = {
    val s = text.toLowerCase.toString
    val out = new ArrayBuffer[UTF8String]()
    var wStart = 0
    val n = s.length
    var i = 0
    while (i <= n) {
      // EXACTLY Java regex \s = [ \t\n\x0B\f\r] — the split twin's
      // charset (Character.isWhitespace is broader: unicode spaces,
      // U+001C-1F — a doc with those would tokenize differently)
      val isWs = i < n && {
        val c = s.charAt(i)
        c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      }
      if (i == n || isWs) {
        if (i > wStart) {
          // candidate word s[wStart, i)
          var allAz = true
          var j = wStart
          while (allAz && j < i) {
            val c = s.charAt(j)
            if (c < 'a' || c > 'z') allAz = false
            j += 1
          }
          if (allAz) emitWord(s, wStart, i, merges, out)
        }
        wStart = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** Apply the merge list to one word and append its tokens. */
  private def emitWord(s: String, from: Int, until: Int,
      merges: Array[Array[String]], out: ArrayBuffer[UTF8String]): Unit = {
    var segs = new ArrayBuffer[String](until - from)
    var i = from
    while (i < until) { segs += String.valueOf(s.charAt(i)); i += 1 }
    var m = 0
    while (m < merges.length && segs.length > 1) {
      val l = merges(m)(0)
      val r = merges(m)(1)
      var changed = false
      // first scan without allocating; most merges touch nothing
      var j = 0
      while (!changed && j + 1 < segs.length) {
        if (segs(j) == l && segs(j + 1) == r) changed = true else j += 1
      }
      if (changed) {
        val next = new ArrayBuffer[String](segs.length)
        var k = 0
        while (k < j) { next += segs(k); k += 1 }
        while (k < segs.length) {
          if (k + 1 < segs.length && segs(k) == l && segs(k + 1) == r) {
            next += l + r; k += 2
          } else { next += segs(k); k += 1 }
        }
        segs = next
      }
      m += 1
    }
    var t = 0
    while (t < segs.length) { out += UTF8String.fromString(segs(t)); t += 1 }
  }

  val info = (
    FunctionIdentifier("graft_bpe_apply"),
    new ExpressionInfo(classOf[BpeApply].getName, "graft_bpe_apply"),
    (children: Seq[Expression]) => BpeApply(children(0), children(1)): Expression)
}
