package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Text normalization primitives (ref NFKD + whitespace collapse +
  * quote strip `scripts/pipeline/18-...py:124-139`, `22-...py:235-240`;
  * mojibake/CRLF cleanup `scripts/pipeline/02-...py:66-79`).
  *
  * NFKD needs `java.text.Normalizer` → UDF; the whitespace/CRLF pieces
  * are pure Column expressions (codegen'd) and should be preferred when
  * NFKD isn't required.
  */
object TextNorm {

  /** NFKD-normalize, strip combining marks (é → e), collapse runs of
    * whitespace, trim. */
  def nfkdFold(s: String): String = {
    if (s == null) return null
    val d = Normalizer.normalize(s, Normalizer.Form.NFKD)
    d.replaceAll("\\p{M}+", "").replaceAll("\\s+", " ").trim
  }

  val nfkdUdf: UserDefinedFunction = udf((s: String) => nfkdFold(s))

  /** CRLF/tab strip + whitespace collapse as a pure expression. */
  def cleanWs(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "[\\r\\n\\t]+", " "), " {2,}", " "))
}
