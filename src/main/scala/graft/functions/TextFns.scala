package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives shared by the word-count, dedup, and text-analysis
  * operators. The tokenizers and `wordNGrams` are native one-pass
  * kernels ([[graft.functions.expr.Tokens]] and its
  * siblings in `expr/TextKernels.scala`): one byte loop per document in
  * place of `split` + `filter`/`transform` lambda chains, which Spark
  * interprets per element. Outputs, null handling included, are those
  * of the compositions they replaced (`TextKernelsSpec`).
  */
object TextFns {

  import org.apache.spark.sql.graft.{shim => ExpressionUtils}
  import graft.functions.expr.{Tokens, WordNGrams}

  /** The reference's tokenizer, exactly (SURVEY §1.4-Q6): split on runs
    * of non-letters, case-sensitive, drop empties. Java's `\p{L}` matches
    * Go's `unicode.IsLetter` (`/root/reference/test/wordCount.go:16-19`,
    * `strings.FieldsFunc(contents, c => !unicode.IsLetter(c))`). */
  def letterTokens(c: Column): Column =
    ExpressionUtils.column(Tokens(ExpressionUtils.expression(c), letters = true))

  /** Whitespace tokens (`\s` runs split, empties dropped). */
  def wsTokens(c: Column): Column =
    ExpressionUtils.column(Tokens(ExpressionUtils.expression(c), letters = false))

  /** Consecutive word n-grams over a token array, space-joined.
    * Empty array when the document has fewer than n tokens. */
  def wordNGrams(toks: Column, n: Int): Column =
    ExpressionUtils.column(WordNGrams(ExpressionUtils.expression(toks), n))

  /** Canonical text normalization for fingerprinting: lower-case,
    * collapse every non-alphanumeric run to one space, trim. */
  def normalized(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))
}
