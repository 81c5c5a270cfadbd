package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization (canonical composition) of a string —
  * the missing Spark primitive under every text-cleaning pipeline:
  * visually identical strings with composed vs decomposed code points
  * (é as U+00E9 vs e + U+0301) otherwise hash to different dedup
  * fingerprints, different shingles, different everything. Wraps
  * `java.text.Normalizer` (the platform's ICU-equivalent NFC per
  * Unicode TR15 — the same canonical result DuckDB's `nfc_normalize`
  * produces, which is what makes the cross-engine oracle possible).
  * Fast path: Normalizer.isNormalized short-circuits the (common)
  * already-NFC case without allocating. */
case class NfcNormalizeExpr(child: Expression)
    extends UnaryExpression with NativeExpression {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str,
        java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str,
      java.text.Normalizer.Form.NFC))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(c: Expression)
      : NfcNormalizeExpr = copy(child = c)
  override def prettyName: String = "nfc_normalize"
}

object NfcNormalizeExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def nfc_normalize(s: Column): Column =
    ColumnBridge.column(NfcNormalizeExpr(ColumnBridge.expression(s)))
}
