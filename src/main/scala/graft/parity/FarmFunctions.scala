package graft.parity

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** The engine's scalar-function surface for the reference semantics
  * (SURVEY.md §2.2/§2.8/§2.9). Policy per the porting table in §2.9:
  * predicates expressible as Catalyst built-ins are plain `Column`
  * functions (codegen'd, pushdown-friendly); the genuinely procedural
  * parsers are Scala UDFs delegating to the golden-tested [[RefText]].
  * The three hot predicates, is_numeric_token, starts_with_name and
  * is_header_text, are codegen'd Catalyst expressions in
  * [[graft.functions.NativeFunctions]].
  */
object FarmFunctions {

  // ---------------------------------------------------------------
  // Native Column expressions (no UDF — stay inside codegen)

  /** extract_alternate_name (:711-715): first parenthetical, trimmed. */
  def alternateName(name: Column): Column =
    trim(regexp_extract(name, "\\(([^)]+)\\)", 1))

  /** The structural part of is_continuation_line (:239-251) as native
    * expressions: text reduced by digit-runs and separators leaves ≤1
    * char, or ≤2 alphabetic chars total. The full reference predicate
    * additionally requires !starts_with_name — see
    * [[RefText.isContinuationLine]]. */
  def continuationShape(text: Column): Column = {
    val t = trim(text)
    val stripped = regexp_replace(regexp_replace(t, "\\d+", ""),
      "[,\\s\\-—–$.]", "")
    val alphaOnly = regexp_replace(t, "[^A-Za-z]", "")
    (length(t) > 0) && ((length(trim(stripped)) <= 1) || (length(alphaOnly) <= 2))
  }

  // ---------------------------------------------------------------
  // Procedural parsers as UDFs over the golden-tested port

  /** (name, numbers[5]) struct from a structured name line. */
  val parseLineUdf: UserDefinedFunction =
    udf((t: String) => {
      val (name, nums) = RefText.parseStructuredLine(if (t == null) "" else t)
      (name, nums.toSeq)
    })

  val extractContinuationUdf: UserDefinedFunction =
    udf((t: String) =>
      RefText.extractContinuationNumbers(if (t == null) "" else t).toSeq)

  /** (surname, given, suffix) struct. */
  val splitNameUdf: UserDefinedFunction =
    udf((t: String) => RefText.splitName(if (t == null) "" else t))
}
