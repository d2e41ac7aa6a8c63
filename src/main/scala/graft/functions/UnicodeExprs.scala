package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.Bridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode-aware text normalization primitives (round-13: the
  * multilingual counterpart to `TextAnalysis.normalizeText`'s
  * engine-portable ASCII rules).
  *
  * One JVM pass per row (same design rationale as [[TextHashExprs]]:
  * a HOF/regex chain would pay per-codepoint lambda or regex-engine
  * cost; these run a tight loop over codepoints). Both are pure
  * map-side projections — no shuffle, scale-free at 100 TB.
  */
object UnicodeExprs {

  /** NFKC-fold a string and map Unicode "control-like" categories:
    * Cc (control) / Zl (line sep) / Zp (paragraph sep) become a space,
    * Cf (format: ZWSP, ZWJ/ZWNJ, soft hyphen, BiDi marks) is REMOVED —
    * zero-width characters are invisible joins, so removal keeps words
    * whole while a space would split them. On pure-ASCII input this is
    * bit-identical to the ASCII rule (`[\x00-\x1f\x7f]` → space):
    * NFKC is the identity on ASCII and ASCII has no Cf/Zl/Zp
    * (law-pinned in TextAnalysisSpec). */
  def nfkcFoldJava(s: String): String = {
    val n = java.text.Normalizer.normalize(
      s, java.text.Normalizer.Form.NFKC)
    val sb = new java.lang.StringBuilder(n.length)
    var i = 0
    while (i < n.length) {
      val cp = n.codePointAt(i)
      Character.getType(cp) match {
        case Character.CONTROL | Character.LINE_SEPARATOR |
            Character.PARAGRAPH_SEPARATOR => sb.append(' ')
        case Character.FORMAT => // removed
        case _ => sb.appendCodePoint(cp)
      }
      i += Character.charCount(cp)
    }
    sb.toString
  }

  case class NfkcFold(child: Expression)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_nfkc_fold"
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs string, got ${t.simpleString}")
      }
    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(
        nfkcFoldJava(input.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression): NfkcFold =
      copy(child = c)
  }

  /** The script families the counts report, in struct-field order.
    * "kana" merges Hiragana + Katakana (one writing system for the
    * signal's purpose). Combining marks of script Inherited and
    * Common-script characters (digits, punctuation, spaces) count
    * nowhere — the same convention RE2's \p{Script} classes use, which
    * is what lets a DuckDB oracle replay these counts. */
  private val scriptFields: Seq[String] = Seq("latin", "cyrillic", "han",
    "arabic", "devanagari", "hangul", "kana", "greek", "hebrew")

  private val scriptIndex: Map[Character.UnicodeScript, Int] = {
    import Character.UnicodeScript._
    Map(LATIN -> 0, CYRILLIC -> 1, HAN -> 2, ARABIC -> 3,
      DEVANAGARI -> 4, HANGUL -> 5, HIRAGANA -> 6, KATAKANA -> 6,
      GREEK -> 7, HEBREW -> 8)
  }

  case class ScriptCounts(child: Expression)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = StructType(
      scriptFields.map(f => StructField(f, LongType, nullable = false)))
    override def prettyName: String = "graft_script_counts"
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs string, got ${t.simpleString}")
      }
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val counts = new Array[Long](scriptFields.length)
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        val sc = try Character.UnicodeScript.of(cp)
        catch { case _: IllegalArgumentException =>
          Character.UnicodeScript.UNKNOWN }
        scriptIndex.get(sc).foreach(ix => counts(ix) += 1L)
        i += Character.charCount(cp)
      }
      new GenericInternalRow(counts.map(_.asInstanceOf[Any]))
    }
    override protected def withNewChildInternal(c: Expression): ScriptCounts =
      copy(child = c)
  }

  /** Single-pass count of CJK characters (Han + Hiragana + Katakana +
    * Hangul) — the unsegmented-script class `tokenCountUnicode` charges
    * one token per character. A dedicated expression because summing 3
    * fields of [[ScriptCounts]] inline would evaluate the (interpreted,
    * no-CSE) struct 3× per row (round-13 advice). DuckDB replay: RE2
    * `[\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]` (note RE2 spells
    * scripts `\p{Han}` where Java spells `\p{IsHan}`). */
  case class CjkCount(child: Expression)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_cjk_count"
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs string, got ${t.simpleString}")
      }
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      var n = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        val sc = try Character.UnicodeScript.of(cp)
        catch { case _: IllegalArgumentException =>
          Character.UnicodeScript.UNKNOWN }
        import Character.UnicodeScript._
        if (sc == HAN || sc == HIRAGANA || sc == KATAKANA || sc == HANGUL)
          n += 1L
        i += Character.charCount(cp)
      }
      n
    }
    override protected def withNewChildInternal(c: Expression): CjkCount =
      copy(child = c)
  }

  private def entry(name: String, clazz: Class[_])(
      builder: Seq[Expression] => Expression) = {
    val id = FunctionIdentifier(name)
    val info = new ExpressionInfo(clazz.getCanonicalName, name)
    (id, info, builder)
  }

  /** injectFunction payloads — see [[graft.GraftExtensions]]. */
  val injectables: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    entry("graft_nfkc_fold", classOf[NfkcFold])(cs => NfkcFold(cs.head)),
    entry("graft_script_counts", classOf[ScriptCounts])(cs =>
      ScriptCounts(cs.head)),
    entry("graft_cjk_count", classOf[CjkCount])(cs => CjkCount(cs.head)))

  /** NFKC + category fold (see [[NfkcFold]]). */
  def nfkcFold(text: Column): Column = column(NfkcFold(expression(text)))

  /** Per-script character counts struct (see [[ScriptCounts]]). */
  def scriptCounts(text: Column): Column =
    column(ScriptCounts(expression(text)))

  /** Single-pass CJK character count (see [[CjkCount]]). */
  def cjkCount(text: Column): Column = column(CjkCount(expression(text)))
}
