package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The Exact helpers must make rounded sums order-independent and integer
  * ratios rounded HALF_UP, both equal to an exact BigDecimal model — the
  * property the oracle gate's stability rests on after the round-4
  * hardening sweep. Every check evaluates the helpers' own SQL. */
class ExactSpec extends SparkSpec {
  import spark.implicits._

  test("sumRound2 over dec() equals a BigDecimal model and ignores row order") {
    val rnd = new scala.util.Random(31L)
    // money-like 2-decimal doubles, the fixture columns' shape
    val vals = Seq.fill(5000)(math.round(rnd.nextDouble() * 1e7) / 100.0)
    val model = vals.map(v => BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP))
      .sum.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

    def run(seq: Seq[Double], partitions: Int): Double =
      spark.createDataset(seq).repartition(partitions).toDF("v")
        .agg(Exact.sumRound2(Exact.dec(col("v"))).as("s"))
        .collect().head.getDouble(0)

    val a = run(vals, 3)
    val b = run(rnd.shuffle(vals), 7)
    assert(a == model, s"$a != model $model")
    assert(b == model, "order/partitioning changed an exact decimal sum")
  }

  test("dec() recovers every 2-decimal double exactly") {
    val vals = (0 until 10000).map(i => i / 100.0)
    val recovered = spark.createDataset(vals).toDF("v")
      .select(Exact.dec(col("v")).cast("double").as("r"), col("v"))
      .filter(col("r") =!= col("v")).count()
    assert(recovered == 0L)
  }

  test("ratio4 house formula equals BigDecimal HALF_UP rounding on random ratios") {
    // the integer rounding rule behind every oracled share/rate column must
    // equal HALF_UP of p/q: at 4 decimals (ratio4), as an integer (halfUp),
    // and for numerators of either sign (halfUpSigned, which like BigDecimal
    // HALF_UP rounds half away from zero)
    val pairGen = for {
      p <- Gen.chooseNum(0L, 2000000L)
      q <- Gen.chooseNum(1L, 2000000L)
    } yield (p, q)
    val pairs = Gen.listOfN(4000, pairGen).apply(Gen.Parameters.default, Seed(7L)).get
    val got = pairs.toDF("p", "q").selectExpr(
        Exact.ratio4("p", "q"),
        Exact.halfUp("p", "q"),
        Exact.halfUpSigned("p", "q", 10000L),
        Exact.halfUpSigned("-p", "q", 10000L))
      .as[(Double, Long, Long, Long)].collect()
    def model(p: Long, q: Long, decimals: Int): BigDecimal =
      (BigDecimal(p) / BigDecimal(q)).setScale(decimals, BigDecimal.RoundingMode.HALF_UP)
    pairs.zip(got).foreach { case ((p, q), (r4, unscaled, pos, neg)) =>
      val expect = model(p, q, 4).toDouble
      assert(r4 == expect, s"ratio4($p, $q): $r4 != $expect")
      assert(unscaled == model(p, q, 0).toLongExact, s"halfUp($p, $q): $unscaled")
      assert(pos == (model(p, q, 4) * 10000).toLongExact, s"halfUpSigned($p, $q): $pos")
      assert(neg == (model(-p, q, 4) * 10000).toLongExact, s"halfUpSigned(-$p, $q): $neg")
    }
  }

  /** Lines of `src/main/scala` matching `rule`, outside the `allowed`
    * files (by default graft/Exact.scala and the oracle SQL in
    * graft/SparkEntry.scala). */
  private def copiesOutsideExact(rule: scala.util.matching.Regex,
      allowed: Set[String] = Set("graft/Exact.scala", "graft/SparkEntry.scala"))
      : List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root.resolve("graft")),
      s"sources not found under ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val files: List[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.exists(_.endsWith(Paths.get("graft/Exact.scala"))))
    for {
      f <- files
      rel = root.relativize(f).iterator.asScala.mkString("/")
      if !allowed(rel)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if rule.findFirstIn(line).isDefined
    } yield s"$rel:${i + 1}: ${line.trim}"
  }

  test("the rounding rule is spelled only in graft/Exact.scala " +
      "(the oracle SQL in graft/SparkEntry.scala keeps its own copies)") {
    assertThrows[ClassNotFoundException](Class.forName("graft.queries.Exact$"))
    val hits = copiesOutsideExact("""20000L|ELSE -\(\(|DIV \(2L \*""".r)
    assert(hits.isEmpty, hits.mkString(s"\n${hits.size} copies:\n", "\n", ""))
  }

  test("the 2^20 scale and the score-grid bin are spelled only in graft/Exact.scala") {
    val hits = copiesOutsideExact("""1048576|least\(floor\(""".r)
    assert(hits.isEmpty, hits.mkString(s"\n${hits.size} copies:\n", "\n", ""))
  }

  test("each bucket-occupancy rule of the dedup pair stages is spelled once") {
    // the drop-cap filter, the fail-fast occupancy guard and the exact
    // shingle-intersection re-join each have one home in graft.api.Graft
    val rules = Seq(
      "drop-cap filter" -> """filter\(col\("__(?:df|occ)"\) <=""".r,
      "occupancy guard" -> """assert_true\(__\w+ <=""".r,
      "exact-intersection re-join" -> """Seq\("id_b", "shingle"\)""".r)
    for ((what, rule) <- rules) {
      val hits = copiesOutsideExact(rule, allowed = Set("graft/SparkEntry.scala"))
      assert(hits.size == 1, hits.mkString(s"\n$what: ${hits.size} copies:\n", "\n", ""))
    }
  }

  test("the token array and count are spelled only in graft/Tokens.scala") {
    val hits = copiesOutsideExact("""filter\(split\(.*' ', -1\)""".r,
      allowed = Set("graft/Tokens.scala", "graft/SparkEntry.scala"))
    assert(hits.isEmpty, hits.mkString(s"\n${hits.size} copies:\n", "\n", ""))
  }

  test("the stop list and the clipped-overlap body are each spelled once") {
    val rules = Seq(
      "stop list" -> """'the','a','of','and','is'""".r,
      "clipped overlap" -> """least\(col\("__cc"\), col\("__cr"\)\)""".r)
    for ((what, rule) <- rules) {
      val hits = copiesOutsideExact(rule, allowed = Set("graft/SparkEntry.scala"))
      assert(hits.size == 1, hits.mkString(s"\n$what: ${hits.size} copies:\n", "\n", ""))
    }
  }

  test("the build-once guard and lock, the staged stream open and the " +
      "batch-keyed partition name are each spelled once") {
    // Scoped.once owns the build-once marker and its lock; StreamingQueries'
    // stagedStream the one-file-per-trigger open of staged batches and
    // BatchKeyed the batch_id partition (its write, read and last listing)
    val rules = Seq(
      "table-commit guard" -> "\"_SUCCESS\"".r,
      "staged stream open" -> "\"maxFilesPerTrigger\"".r,
      "build lock" -> """\.synchronized \{""".r,
      "batch-keyed partition name" -> "\"batch_id=\"".r)
    for ((what, rule) <- rules) {
      val hits = copiesOutsideExact(rule, allowed = Set("graft/SparkEntry.scala"))
      assert(hits.size <= 1, hits.mkString(s"\n$what: ${hits.size} copies:\n", "\n", ""))
    }
  }

  test("Tokens.array and Tokens.count equal split(\" \", -1) without empty tokens") {
    // pieces that make leading, trailing and repeated spaces
    val piece = Gen.oneOf(" ", "  ", "a", "bc", "the", "x\ty", "é")
    val texts = Seq("", " ", "   ", "a", " a", "a ", "a  b", "  a b  ") ++
      Gen.listOfN(500, Gen.listOf(piece).map(_.mkString))
        .apply(Gen.Parameters.default, Seed(11L)).get
    val got = texts.toDF("s")
      .selectExpr("s", Tokens.array("s"), Tokens.count("s"))
      .as[(String, Seq[String], Long)].collect()
    assert(got.length == texts.size)
    got.foreach { case (text, toks, n) =>
      val model = text.split(" ", -1).filter(_.nonEmpty).toSeq
      assert(toks == model, s"Tokens.array(\"$text\") = $toks, model $model")
      assert(n == model.size.toLong, s"Tokens.count(\"$text\") = $n")
    }
  }

  test("Tokens.count equals Graft.tokenize's rows per document on documents") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // tag every maximal non-space run with its doc id: a token stays empty
    // or non-empty as it was, so tokenize's rows can be counted per doc
    val tagged = docs.select(regexp_replace(col("text"), lit("([^ ]+)"),
      concat(lit("$1\u0001"), col("doc_id").cast("string"))).as("text"))
    val exploded = graft.api.Graft.tokenize(tagged, "text")
      .groupBy(substring_index(col("word"), "\u0001", -1).cast("long").as("doc_id"))
      .agg(count(lit(1)).as("rows"))
    val diff = docs.select(col("doc_id"), expr(Tokens.count("text")).as("n"))
      .join(exploded, Seq("doc_id"), "left")
      .filter(col("n") =!= coalesce(col("rows"), lit(0L)))
    assert(docs.count() > 0)
    assert(diff.count() == 0L, diff.take(5).mkString("; "))
  }

  test("onGrid, gridMean4 and scoreBin equal their exact models") {
    val rnd = new scala.util.Random(17L)
    val xs = Seq(0.0, 1.0, -1.0, 0.5, -0.3, 1.0 / 3.0) ++
      Seq.fill(2000)((rnd.nextDouble() - 0.5) * 1000.0)
    val grid = math.pow(2, 20)
    def floorGrid(x: Double): Long = math.floor(x * grid).toLong
    val onGrid = xs.toDF("x").select(Exact.onGrid(col("x"))).as[Double].collect()
    xs.zip(onGrid).foreach { case (x, g) =>
      assert(g == floorGrid(x) / grid, s"onGrid($x) = $g")
      assert(g <= x && x - g < 1.0 / grid, s"onGrid($x) = $g is not x floored onto the grid")
    }
    val mean = xs.toDF("x").repartition(5)
      .agg(Exact.gridMean4(col("x"))).as[Double].head()
    // an exact Long sum, then the same two IEEE divides and HALF_UP
    val model = BigDecimal(xs.map(floorGrid).sum.toDouble / xs.size / grid)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(mean == model, s"gridMean4 = $mean, model $model")
    val qs = Seq(0.0, 0.0999, 0.1, 0.5, 0.99999, 1.0) ++ Seq.fill(500)(rnd.nextDouble())
    for (bins <- Seq(10, 4096)) {
      val got = qs.toDF("q").select(Exact.scoreBin(col("q"), bins)).as[Long].collect()
      qs.zip(got).foreach { case (q, b) =>
        assert(b == math.min(math.floor(q * bins).toLong, bins - 1L), s"scoreBin($q, $bins) = $b")
      }
    }
  }
}
