package graft

import org.apache.spark.sql.functions._
import graft.api.Graft
import graft.queries.PipelineOps

/** Round-4 pipeline operators: connected-components clustering, stratified
  * sampling, sketch rollups, merge-upsert, funnel/retention analytics. */
class Round4Spec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents collapses a path graph to one component (pointer jumping)") {
    // A 40-node path: plain neighbor propagation would need 40 rounds; the
    // pointer-jumping variant must converge within the 25-round cap.
    val edges = (0L until 39L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = Graft.connectedComponents(edges, "src", "dst").collect()
    assert(comp.length == 40)
    assert(comp.forall(_.getLong(1) == 0L), s"labels: ${comp.map(_.getLong(1)).distinct.toSeq}")
  }

  test("connectedComponents keeps disjoint components apart") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L)).toDF("a", "b")
    val comp = Graft.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
    // pure self-loop nodes carry no connectivity information and are dropped
    // (callers union isolated ids back — dedupClusters does)
    assert(!comp.contains(20L))
  }

  test("dedupClusters merges transitively through head- and tail-key chains") {
    // A~B share the head-8 tokens; B~C share the tail-8 tokens; A and C share
    // nothing directly — one cluster {A, B, C} proves transitive closure.
    val head = "h1 h2 h3 h4 h5 h6 h7 h8"
    val tail = "t1 t2 t3 t4 t5 t6 t7 t8"
    val docs = Seq(
      (1L, s"$head only starts like b"),
      (2L, s"$head middle words then $tail"),
      (3L, s"totally different start yet $tail"),
      (4L, "an unrelated singleton document entirely")
    ).toDF("doc_id", "text")
    val dir = Scoped.dir(spark, "graft_r4", "dedup_clusters")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PipelineOps.dedupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 3L) && out(2L) == (1L, 3L) && out(3L) == (1L, 3L), s"got $out")
    assert(out(4L) == (4L, 1L))
  }

  test("funnel stages require each step at-or-after the previous first occurrence") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = Seq(
      // user 1: full ordered funnel -> stage 4
      (1L, "signup", ts("2024-01-01 10:00:00")), (1L, "view", ts("2024-01-01 10:01:00")),
      (1L, "click", ts("2024-01-01 10:02:00")), (1L, "purchase", ts("2024-01-01 10:03:00")),
      // user 2: view BEFORE signup -> stuck at stage 1
      (2L, "view", ts("2024-01-01 09:00:00")), (2L, "signup", ts("2024-01-01 10:00:00")),
      // user 3: no signup at all -> stage 0
      (3L, "view", ts("2024-01-01 09:00:00")),
      // user 4: signup+view, clickless -> stage 2
      (4L, "signup", ts("2024-01-01 08:00:00")), (4L, "view", ts("2024-01-01 08:30:00"))
    ).toDF("user_id", "event_type", "ts")
    val dir = Scoped.dir(spark, "graft_r4f", "funnel")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val stages = PipelineOps.funnelAnalysis(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(stages == Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 4 -> 1L), s"got $stages")
  }

  test("mergeUpsert: change rows win, unmatched base rows survive, keys unique") {
    val out = PipelineOps.mergeUpsert(spark, sf)
    val byKey = out.groupBy("o_orderkey").count().filter(col("count") > 1).count()
    assert(byKey == 0, "merge output must have unique keys")
    val srcs = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every even key comes from the change set, never from base
    val evenBase = out.filter(col("o_orderkey") % 2 === 0 && col("src") === "base").count()
    assert(evenBase == 0)
    assert(srcs("update") > 0 && srcs("base") > 0)
  }

  test("connectedComponents agrees with GraphX on random graphs (library cross-check)") {
    val rnd = new scala.util.Random(23L)
    val edges = Seq.fill(80)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).distinct
    val got = Graft.connectedComponents(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = org.apache.spark.graphx.Graph
      .fromEdgeTuples(spark.sparkContext.parallelize(edges), defaultValue = 0)
      .connectedComponents().vertices.collect().toMap
    // GraphX labels every vertex with the min reachable vertex id — the same
    // canonical labeling this engine's DataFrame implementation uses
    assert(got == gx.map { case (k, v) => k -> v }, s"sizes ${got.size} vs ${gx.size}")
  }

  test("ngramDecontaminate matches a Scala-collections 6-gram overlap model") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val evalSet = docs.filter(_._1 % 97 == 0)
    val train = docs.filter(_._1 % 97 != 0)
    def grams(t: String): Set[String] =
      t.split(" ", -1).sliding(6).filter(_.length == 6).map(_.mkString(" ")).toSet
    val evalGrams = evalSet.flatMap(d => grams(d._2)).toSet
    val evalByGram = evalSet.flatMap(d => grams(d._2).map(_ -> d._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val model = train.flatMap { case (id, t) =>
      val hits = grams(t).intersect(evalGrams)
      if (hits.isEmpty) None
      else Some(id -> (hits.size.toLong, hits.flatMap(evalByGram).size.toLong))
    }.toMap
    val got = graft.api.Graft.ngramDecontaminate(
        Tables.documents(spark, sf).filter(col("doc_id") % 97 =!= 0),
        Tables.documents(spark, sf).filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == model, s"sizes ${got.size} vs ${model.size}")
  }

  test("stratifiedSample is deterministic and tracks per-stratum rates") {
    val docs = Tables.documents(spark, sf)
    val rates = Map("en" -> 0.5, "de" -> 0.1)
    val a = Graft.stratifiedSample(docs, "doc_id", "lang", rates, defaultRate = 0.0)
    val b = Graft.stratifiedSample(docs, "doc_id", "lang", rates, defaultRate = 0.0)
    assert(a.select("doc_id").collect().toSet == b.select("doc_id").collect().toSet)
    val kept = a.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet.subsetOf(Set("en", "de")), s"defaultRate=0 leaked: $kept")
    for ((lang, rate) <- rates) {
      val frac = kept.getOrElse(lang, 0L).toDouble / total(lang)
      assert(math.abs(frac - rate) < 0.15, s"$lang kept $frac, wanted ~$rate")
    }
  }

  test("sketchTopK matches exact counts while items fit the sketch") {
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("event_type")).limit(3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val sk = PipelineOps.sketchTopK(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sk == exact, s"sketch $sk vs exact $exact")
  }
}
