package graft

/** A registry row's result must not depend on how its input is split: the
  * grid sums, score bins and fixed-point centroids of `graft.Exact` and
  * `FixedPointVecSum` exist so that partial aggregation in any order gives
  * the same rows; the clipped n-gram overlaps of the ROUGE, BLEU and chrF
  * rows and the token-array rows sum exact integers. Each row here runs at
  * the suite's 4 shuffle partitions, then at 1 and 7 (an odd count, which
  * no power-of-two layout can hide), with adaptive execution on and off,
  * and must give the same rows. */
class PartitioningSpec extends SparkSpec {

  private val rows = Seq("psi_drift", "ks_drift", "conformal_gate",
    "centroid_classify", "embedding_drift", "readability",
    "rouge_overlap", "bleu_corpus", "chrf_score", "vocab_size_sweep")

  /** The row's result as a sorted multiset of printed rows. */
  private def run(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq.sorted

  for (name <- rows) test(s"$name gives the same rows at 1, 4 and 7 partitions, AQE on and off") {
    val base = run(name)
    assert(base.nonEmpty, s"$name returned no rows")
    for (parts <- Seq("1", "7"); aqe <- Seq("true", "false")) {
      val got = Scoped.conf(spark, "spark.sql.shuffle.partitions", parts) {
        Scoped.conf(spark, "spark.sql.adaptive.enabled", aqe)(run(name))
      }
      assert(got == base, s"$name at $parts partitions, AQE $aqe:\n" +
        s"only here: ${got.diff(base).take(5).mkString("; ")}\n" +
        s"only at 4: ${base.diff(got).take(5).mkString("; ")}")
    }
  }
}
