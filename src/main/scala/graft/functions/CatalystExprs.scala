package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * JVM-static facade over PyText for StaticInvoke / codegen call sites.
 * MUST be a TOP-LEVEL object: scalac only emits static forwarders (which
 * StaticInvoke and generated code call) for top-level objects.
 */
object PyTextStatics {
  def pyTitle(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(PyText.pyTitle(s.toString))
  def utf16ToCp(s: UTF8String, i: Int): Int =
    if (s == null) 0 else PyText.utf16ToCp(s.toString, i)
  def cpToUtf16(s: UTF8String, i: Int): Int =
    if (s == null) 0 else PyText.cpToUtf16(s.toString, i)
  def normalizeAscii(s: UTF8String): UTF8String = {
    if (s == null) return null
    // dormant reference capability (src/data/preprocess.py:13-17), the
    // unidecode step re-expressed with public building blocks:
    //  1. NFKD compatibility decomposition (fullwidth -> ASCII, accents
    //     split off);
    //  2. strip combining marks EXCEPT the kana voicing marks U+3099/
    //     U+309A (dropping those would silently devoice が -> か);
    //  3. NFC re-compose so voiced kana arrive precomposed;
    //  4. table-driven transliteration of Greek / Cyrillic / Kana
    //     ([[Translit]]; Han ideographs pass through — their readings
    //     tables are out of scope, documented divergence).
    val nfkd = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFKD)
    val sb = new java.lang.StringBuilder(nfkd.length)
    var i = 0
    while (i < nfkd.length) {
      val cp = nfkd.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK ||
        cp == 0x3099 || cp == 0x309A)
        sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    val recomposed = java.text.Normalizer.normalize(sb.toString,
      java.text.Normalizer.Form.NFC)
    UTF8String.fromString(Translit.transliterate(recomposed))
  }
}

/**
 * Catalyst-native scalar functions (SURVEY.md §2.11): where a plain Scala
 * UDF would box/unbox through the encoder on every row, these stay inside
 * whole-stage codegen — either as a custom `Expression` with `doGenCode`
 * ([[CatalystExprs.NormalizeAscii]]) or via `StaticInvoke` of a
 * [[PyTextStatics]] method on UTF8String (zero-copy in, one allocation
 * out). [[graft.GraftExtensions]] registers both as SQL functions.
 */
object CatalystExprs {

  /**
   * NFKD ASCII-fold as a proper custom `Expression` with `doGenCode` —
   * the generated code calls the static forwarder directly inside the
   * whole-stage-codegen'd consume path (exemplar for SURVEY §2.7 F16).
   */
  case class NormalizeAscii(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      PyTextStatics.normalizeAscii(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.PyTextStatics.normalizeAscii($c);")
    override protected def withNewChildInternal(newChild: Expression): NormalizeAscii =
      copy(child = newChild)
  }
}
