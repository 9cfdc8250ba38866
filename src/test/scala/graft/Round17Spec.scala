package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders

/** Round-17 optimization parity pins: the rewritten internals must be
  * bit-identical to the shapes they replaced. */
class Round17Spec extends SparkSpec {

  test("FixedPointVecSum equals the exploded fixed-point mean formula") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random vectors incl. negatives and exact halves
    val rows = (0L until 200L).map { id =>
      val vec = (0 until 16).map { i =>
        (((id * 31 + i * 17) % 97).toFloat - 48.5f) / 7.0f
      }
      (id, id % 5, vec)
    }
    val df = rows.toDF("id", "g", "vec")

    // the OLD shape: posexplode -> groupBy(g, i) fixed-point mean ->
    // collect_list -> float cast
    val oldMeans = df
      .select(col("g"), posexplode(col("vec")).as(Seq("__i", "__v")))
      .groupBy("g", "__i")
      .agg((sum(floor(col("__v").cast("double") * 1048576.0)).cast("double")
        / count(lit(1)).cast("double") / 1048576.0).as("__m"))
      .groupBy("g")
      .agg(array_sort(collect_list(struct(col("__i"), col("__m")))).as("__pairs"))
      .select(col("g"),
        expr("transform(__pairs, x -> CAST(x.__m AS FLOAT))").as("centroid"))

    // the NEW shape: the centroid builder every Graft operator calls
    val newMeans = graft.functions.FixedPointVecSum.centroids(df, Seq("g"), "vec")

    val a = oldMeans.orderBy("g").collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1)))
    val b = newMeans.orderBy("g").collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1)))
    assert(a.length == 5 && a.sameElements(b),
      s"fixed-point means diverge:\nold=${a.mkString(";")}\nnew=${b.mkString(";")}")
  }

  test("FixedPointVecSum long sums are exact across merge boundaries") {
    val s = spark
    import s.implicits._
    // many partitions force partial/merge paths; sums must be exact longs
    val df = (0L until 1000L).map(id => (id, Seq(0.3f, -1.7f, 2.5f)))
      .toDF("id", "vec").repartition(7)
    val vsum = udaf(new graft.functions.FixedPointVecSum,
      Encoders.product[graft.functions.VecSample])
    val r = df.agg(vsum(col("vec")).as("fs")).select("fs.sums", "fs.n")
      .collect()(0)
    val sums = r.getSeq[Long](0)
    // floor(0.3*2^20)=314572, floor(-1.7*2^20)=-1782580 (floor, not trunc),
    // floor(2.5*2^20)=2621440
    assert(r.getLong(1) == 1000L)
    assert(sums == Seq(314572L * 1000, -1782580L * 1000, 2621440L * 1000),
      s"got $sums")
  }

  test("kmeans centroids unchanged vs frozen sf0.001 expectation") {
    // the knn_ivf oracle freezes the training end to end; this is the
    // in-suite canary for the same property (k=3, 2 iters, 8-dim subset)
    val d = "/root/testdata/sf0.001"
    val e = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), expr("slice(embedding, 1, 8)").as("v"))
    val km = graft.api.Graft.kmeans(e, "vec_id", "v", k = 3, iters = 2)
    val s = spark
    import s.implicits._
    // recompute ONE more Lloyd step with the OLD exploded formula from the
    // model's own assignments; it must reproduce what a third-iteration
    // kmeans run produces with the new aggregate
    val km3 = graft.api.Graft.kmeans(e, "vec_id", "v", k = 3, iters = 3)
    val assigned = e.join(km.assignments, "vec_id")
    val oldStep = assigned
      .select(col("list_id").as("c_id"), posexplode(col("v")).as(Seq("__i", "__v")))
      .groupBy("c_id", "__i")
      .agg((sum(floor(col("__v").cast("double") * 1048576.0)).cast("double")
        / count(lit(1)).cast("double") / 1048576.0).as("__m"))
      .groupBy("c_id")
      .agg(array_sort(collect_list(struct(col("__i"), col("__m")))).as("__pairs"))
      .select(col("c_id"),
        expr("transform(__pairs, x -> CAST(x.__m AS FLOAT))").as("centroid"))
    val expect = km.centroids.select(col("c_id"), col("centroid").as("__prev"))
      .join(oldStep.select(col("c_id"), col("centroid").as("__new")), Seq("c_id"), "left")
      .select(col("c_id"), coalesce(col("__new"), col("__prev")).as("centroid"))
    val got = km3.centroids.orderBy("c_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val exp = expect.orderBy("c_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(got.sameElements(exp),
      s"third-iteration centroids diverge from old-formula step:\n${got.mkString(";")}\nvs\n${exp.mkString(";")}")
  }

  test("lmPerplexity integer-grid sum equals the position-ordered double fold") {
    // the rewrite replaces aggregate(array_sort(collect_list(struct(pos,
    // nll))), 0.0D, +) with sum(long grid units) / 2^20 — every term is an
    // exact multiple of 2^-20, so any summation order gives the same double;
    // this pins that equality on real sf0.001 text end to end
    val d = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val got = graft.api.Graft.lmPerplexity(docs, "doc_id", "text")
    // the OLD shape, reconstructed verbatim (r16 tree)
    val toks = docs.select(col("doc_id"),
      expr("filter(split(text, ' ', -1), t -> length(t) > 0)").as("__ts"))
    val bigrams = toks.filter(size(col("__ts")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(2, size(__ts)),
          |  i -> struct(element_at(__ts, i - 1) AS prev, element_at(__ts, i) AS cur))"""
          .stripMargin)).as(Seq("__pos", "__bg")))
      .select(col("doc_id"), col("__pos"),
        col("__bg.prev").as("prev"), col("__bg.cur").as("cur"))
    val cBg = bigrams.groupBy("prev", "cur").agg(count(lit(1)).as("__cbg"))
    val cCtx = cBg.groupBy("prev").agg(sum("__cbg").as("__cctx"))
    val vocab = toks.select(explode(col("__ts")).as("__t"))
      .agg(countDistinct("__t").as("__v"))
    val old = bigrams
      .join(cBg, Seq("prev", "cur")).join(cCtx, Seq("prev"))
      .crossJoin(broadcast(vocab))
      .withColumn("__nll", expr(
        """-(floor(ln((CAST(__cbg AS DOUBLE) + 1.0)
          |  / (CAST(__cctx AS DOUBLE) + 1.0 * CAST(__v AS DOUBLE))) * 1048576.0) / 1048576.0)"""
          .stripMargin))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("aggregate(array_sort(collect_list(struct(__pos, __nll))), 0.0D, (acc, e) -> acc + e.__nll)")
          .as("__sum"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("__sum") / col("n_bigrams"), 4).as("nll"))
    val a = got.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val b = old.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(a.nonEmpty && a.sameElements(b),
      s"nll diverges from the ordered fold (first rows): new=${a.take(3).mkString(";")} old=${b.take(3).mkString(";")}")
  }

  test("nearDupStarEdges binary keys yield the identical edge set") {
    // unhex(md5) is injective on md5 hex output, so bucket identity — and
    // therefore the star edges — must be bit-identical to the hex-string keys
    val d = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val toksE = split(col("text"), " ", -1)
    val keyedOld = docs.select(
      col("doc_id"),
      md5(array_join(slice(toksE, 1, 8), " ")).as("__k_head"),
      md5(array_join(
        slice(toksE, greatest(lit(1), size(toksE) - 7), lit(8)), " ")).as("__k_tail"))
    def starEdges(key: String) = {
      val mins = keyedOld.groupBy(key).agg(min("doc_id").as("b"))
      keyedOld.select(col("doc_id").as("a"), col(key))
        .join(mins, key).select(col("a"), col("b"))
    }
    val oldEdges = starEdges("__k_head").union(starEdges("__k_tail"))
      .filter(col("a") =!= col("b"))
    val newEdges = graft.api.Graft.nearDupStarEdges(docs, "doc_id", "text")
    val a = newEdges.orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = oldEdges.orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.nonEmpty && a.sameElements(b),
      s"edge sets diverge: ${a.length} vs ${b.length} edges")
  }
}
