package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives, faithful to the reference semantics.
  *
  * Reference: BookQuery.java:64 tokenizes with Java `split("\\W+")`; shingles
  * are 3 consecutive tokens joined by one space (BookQuery.java:66-70), and a
  * `HashSet` dedups them (set semantics). Everything here is built from
  * codegen'd `org.apache.spark.sql.functions` — no UDFs — so the expressions
  * stay inside whole-stage codegen and Catalyst can push/prune around them.
  */
object TextFunctions {

  import org.apache.spark.sql.GraftShim.{toColumn => toCol, toExpression => toExpr}

  /** Java `String.split("\\W+")` parity: leading empty token is KEPT when the
    * text starts with a non-word char, trailing empty tokens are DROPPED
    * (Java's default limit=0 semantics; see BookQuery.java:35,64,126).
    * Backed by the custom [[graft.functions.expressions.Tokenize]] Catalyst
    * expression — one regex pass per row, inlined into whole-stage codegen.
    */
  def tokenize(c: Column): Column =
    toCol(graft.functions.expressions.Tokenize(toExpr(c)))

  /** Sliding k-gram of tokens joined by single spaces; < k tokens → empty
    * array (BookQuery.java:37-40 loop bound `i <= len-k`). Order-preserving,
    * duplicates kept (use [[shingleSet]] for the reference's set semantics).
    */
  def shingles(tokens: Column, k: Int): Column = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    when(size(tokens) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(tokens) - k),
        i => concat_ws(" ", (1 to k).map(j => element_at(tokens, i + j)): _*)))
  }

  /** The reference's `HashSet<String>` shingle set (BookQuery.java:26,66-70):
    * distinct k-shingles of the tokenized text. Backed by the custom
    * [[graft.functions.expressions.ShingleSet]] expression: the HOF
    * formulation (array_distinct ∘ transform ∘ element_at) re-evaluated the
    * tokenizer per element — O(tokens²) regex work per row.
    */
  def shingleSet(text: Column, k: Int = 3): Column =
    toCol(graft.functions.expressions.ShingleSet(toExpr(text), k))

  /** ALL k-shingles of the tokenized text, duplicates kept, in order — the
    * multiset twin of [[shingleSet]] (repetition analysis needs the
    * repeats). Native single-pass kernel
    * ([[graft.functions.expressions.ShingleList]]); the HOF [[shingles]]
    * over [[tokenize]] would re-run the tokenizer per element.
    */
  def shingleList(text: Column, k: Int = 3): Column =
    toCol(graft.functions.expressions.ShingleList(toExpr(text), k))
}
