package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Tables, Tokens}

/** Graph analytics over corpus-derived graphs (extension surface, round 9):
  * the word-adjacency graph — nodes are words, edges carry adjacent-position
  * counts — feeds TextRank keyword extraction (weighted PageRank) and a
  * triangle census (degree-ordered orientation). Together with
  * connectedComponents (dedup clusters) these cover the three standard
  * join-aggregate graph patterns a Spark-native pipeline needs: label
  * propagation, fixed-point rank iteration, and wedge closure.
  */
object GraphOps {

  /** TextRank keywords (Graft.textRank) over the English slice: 5 damped
    * PageRank iterations on the word-adjacency graph, top-20 words. The
    * corpus-sized work is one adjacency groupBy; each iteration is a
    * vocabulary-sized equi-join. Fully oracled — the quantized edge
    * contributions make every iteration integer-exact, so DuckDB unrolls
    * the same 5 iterations and hash-matches. */
  def textrankKeywords(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.textRank(
      Tables.documents(s, d).filter(col("lang") === "en"),
      "text", iters = 5, damping = 0.85, topK = 20)

  /** Triangle census (Graft.triangleCensus) of the word-adjacency graph
    * restricted to at-or-above-average-weight edges — the floor is the
    * EXACT integer compare w·n_edges ≥ Σw (no float mean), so it is both
    * scale-invariant (roughly the top half of edges at any corpus size;
    * a fixed count floor would make the graph complete as counts grow)
    * and hash-exact cross-engine. One summary row: nodes, edges, open
    * wedges, triangles, and the global clustering coefficient on the
    * integer ratio4 grid. */
  def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).filter(col("lang") === "en")
      .select(expr(Tokens.array("text")).as("__ts"))
    val weighted = toks.filter(size(col("__ts")) >= 2)
      .select(explode(expr(
        """transform(sequence(2, size(__ts)), i -> struct(
          |  least(element_at(__ts, i - 1), element_at(__ts, i)) AS a,
          |  greatest(element_at(__ts, i - 1), element_at(__ts, i)) AS b))"""
          .stripMargin)).as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
    val floor = weighted.agg(sum("w").as("__sw"), count(lit(1)).as("__ne"))
    val edges = weighted.crossJoin(broadcast(floor))
      .filter(col("w") * col("__ne") >= col("__sw"))
      .select("a", "b")
    graft.api.Graft.triangleCensus(edges, "a", "b")
  }

  /** Semi-supervised label propagation (Graft.labelPropagate) over the
    * embedding near-dup graph: the 1-in-5 vec_ids keep their true label as
    * seeds, the hyperplane-LSH cosine ≥ 0.25 pairs (the dedup_embedding_keep
    * edge set) carry them, and 3 majority-vote rounds label what's
    * transitively similar — weak supervision from a 20% audit. Fully
    * oracled: votes are integer counts, rounds unroll into SQL. */
  def labelPropagation(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val edges = graft.api.Graft.cosineDedupLsh(
        emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", Dedup.embedPlanes, bitsPerBand = 8, tau = 0.25)
      .select(col("id_a"), col("id_b"))
    val seeds = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("label"))
    graft.api.Graft.labelPropagate(
        emb.select(col("vec_id")), "vec_id",
        seeds, "vec_id", "label", edges, "id_a", "id_b", iters = 3)
      .orderBy("vec_id")
  }
}
