package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Column-level text functions, no UDFs. `tokenize` and `wordNgrams`
  * are native Catalyst expressions whose generated code calls one static
  * kernel per row; `letCol` and `charShingles` compose higher-order
  * functions (`transform`), which Spark evaluates interpreted
  * (`CodegenFallback`).
  *
  * Tokenizer semantics replicate the reference's `clean_words`
  * (/root/reference/client.py:16-21), verified by execution (SURVEY.md §2.1
  * O2): strip newlines, delete exactly Python's `string.punctuation`
  * (the 32 ASCII chars !-/, :-@, [-`, {-~), split on runs of ASCII spaces
  * ONLY (tabs are not separators), drop tokens with no non-whitespace char.
  */
object TextFunctions {

  /** Bind an expression ONCE as a lambda variable (the HOF "let"):
    * `letCol(e)(x => body)` evaluates `e` once per row and every use
    * of `x` in the body is an O(1) variable read. Without it, a
    * sub-expression inserted into a lambda body re-evaluates at every
    * lambda invocation, and a single-use projected alias gets INLINED
    * by Catalyst into the consuming lambda with the same effect — the
    * O(G²) class winnowing measured (229 s → 0.6 s at sf0.01) and the
    * PQ encode re-measured (53 s → 2 s). Works for any result type. */
  def letCol(e: Column)(body: Column => Column): Column =
    element_at(transform(array(e), body), 1)

  /** Reference O2 tokenize: `clean_words` semantics (client.py:16-21).
    * Newlines act as separators (the reference reads line-by-line, so a
    * `\n` can never be inside a token); punctuation is deleted BEFORE
    * splitting (`"mid-word"` → `midword`); split on `' +'` only. One
    * native byte-scan kernel ([[CleanWordsExpression.CleanWords]]). */
  def tokenize(text: Column): Column =
    Bridge.toColumn(CleanWordsExpression.CleanWords(Bridge.toExpression(text)))

  /** Reference O5 case projection (client.py:63-67): fold case unless
    * case-sensitive. Applied pre-shuffle (map side) so shuffle keys are
    * already folded — same result, smaller shuffle (SURVEY.md §7.4.4). */
  def foldCase(word: Column, caseSensitive: Boolean): Column =
    if (caseSensitive) word else lower(word)

  /** Character n-gram shingles of a string (for MinHash/Jaccard dedup).
    * Built with sequence+transform (an interpreted higher-order
    * function); a string shorter than n yields itself as its only shingle. */
  def charShingles(text: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(text) - lit(n - 1), lit(1))),
        i => text.substr(i, lit(n))))

  /** Word n-grams from a token array: ngrams(["a","b","c"], 2) =
    * ["a b", "b c"]; shorter-than-n arrays yield []. Evaluated by the
    * native whole-array expression (NgramExpression.WordNgrams) — the
    * composed transform/slice/concat_ws form runs the lambda per element
    * in interpreted mode and dominated the shingling queries' profiles. */
  def wordNgrams(tokens: Column, n: Int): Column =
    NgramExpression.word_ngrams(tokens, n)
}
