package graft

/** The token rule: a text splits on single spaces (the reference's
  * `split(" ")`, StreamSocket.scala:15) and its empty tokens are dropped, so
  * leading, trailing and repeated spaces make no token. `Graft.tokenize` is
  * the exploded form of the same rule (one row per token); the fragments
  * here are the per-document array form and its size, for operators that
  * keep a document's tokens together. The oracle SQL in `SparkEntry` keeps
  * its own copies, as the independent reference the gate compares against.
  * Column names are backquoted, so a caller's name with spaces or dashes
  * splices safely into the SQL lambda.
  */
private[graft] object Tokens {

  /** SQL for the non-empty space-separated tokens of column `c`, as
    * ARRAY<STRING>. */
  def array(c: String): String = s"filter(split(`$c`, ' ', -1), t -> length(t) > 0)"

  /** SQL for the number of tokens of column `c`, as BIGINT. */
  def count(c: String): String = s"CAST(size(${array(c)}) AS BIGINT)"

  /** The English stop list of the quality and language heuristics, as a SQL
    * list of string literals. */
  final val StopWords = "'the','a','of','and','is'"

  /** SQL for the number of space-separated tokens of column `c` that are in
    * `words` (a SQL list of string literals; by default [[StopWords]]), as
    * INT. Empty tokens are kept, and match no word. */
  def stopCount(c: String, words: String = StopWords): String =
    s"size(filter(split(`$c`, ' '), t -> t IN ($words)))"
}
