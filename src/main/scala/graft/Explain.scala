package graft

/** Dev tool: print the formatted physical plan of one registry query and
  * time it — `runMain graft.Explain <query> <sfDir>`. The fast loop for
  * plan iteration (the "explain until it's the plan you'd want" rule);
  * PlanAuditSpec pins the invariants the plans must keep.
  *
  * CAVEAT for eagerly-checkpointed operators (the gram/LSH/curate families
  * call localCheckpoint(true) during CONSTRUCTION): their upstream stages
  * run inside the constructor and appear as `Scan ExistingRDD` in the
  * printed plan. Both timings below are reported — `build` covers the
  * checkpointed stages, `count` the residual plan — so the dominant cost
  * is never silently excluded. Use the Spark UI (or read the operator
  * source) for the pre-checkpoint plan shape. */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <query> <sfDir>")
    Tables.withSession("graft-explain") { spark =>
      val tb = System.nanoTime()
      val df = SparkEntry.queries(args(0))(spark, args(1))
      val buildSec = (System.nanoTime() - tb) / 1e9
      df.explain("formatted")
      val t0 = System.nanoTime(); val n = df.count()
      println(f"rows=$n build=$buildSec%.3fs count=${(System.nanoTime() - t0) / 1e9}%.3fs")
    }
  }
}
