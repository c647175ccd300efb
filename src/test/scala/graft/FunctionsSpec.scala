package graft

import graft.operators.InvertedIndex
import graft.sources.Tables

/** Custom-function surfaces: the codegen'd expression via Column API
  * and SQL registration, and the typed-Aggregator parity with the
  * expression pipeline. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("intersect_count_sorted: Column API and SQL registration agree") {
    import graft.functions.IntersectCountSorted
    import org.apache.spark.sql.functions._
    val df = Seq((Array(1, 2, 3, 7), Array(2, 3, 4, 7))).toDF("a", "b")
    val viaColumn = df.select(IntersectCountSorted(col("a"), col("b"))).collect()(0).getLong(0)
    assert(viaColumn === 3L)
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT intersect_count_sorted(array(1, 2, 3, 7), array(2, 3, 4, 7))")
      .collect()(0).getLong(0)
    assert(viaSql === 3L)
    // disjoint and empty edges
    val edges = df.select(
      IntersectCountSorted(typedLit(Array(1, 2)), typedLit(Array(3, 4))),
      IntersectCountSorted(typedLit(Array.empty[Int]), typedLit(Array(1)))).collect()(0)
    assert(edges.getLong(0) === 0L)
    assert(edges.getLong(1) === 0L)
  }

  test("IntersectCountRewrite: size(array_intersect) plans to the codegen'd merge") {
    import org.apache.spark.sql.functions._
    GraftExtensions.enableRewrites(spark)
    try {
      // unsorted + duplicates + empties: the rewrite must preserve the
      // built-in's DISTINCT-intersection semantics on every edge
      val df = Seq(
        (Array(3L, 1L, 2L, 1L), Array(2L, 2L, 3L, 9L)), // dups both sides
        (Array(5L, 5L, 5L), Array(5L)),                 // all-dup → 1
        (Array.empty[Long], Array(1L, 2L)),             // empty side
        (Array(7L, 8L), Array(1L, 2L))                  // disjoint
      ).toDF("a", "b")
        .repartition(2) // keep ConvertToLocalRelation from pre-evaluating
      val q = df.select(size(array_intersect(col("a"), col("b"))).as("n"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("intersect_count_sorted"),
        s"rewrite did not fire:\n$plan")
      assert(q.collect().map(_.getInt(0)).sorted.toList === List(0, 0, 1, 2))
      // containsNull arrays must NOT be rewritten (nullable elements)
      val nullable = Seq((Seq(Some(1L), None), Seq(Option(1L), Option(2L))))
        .toDF("a", "b")
        .repartition(2)
        .select(size(array_intersect(col("a"), col("b"))).as("n"))
      assert(!nullable.queryExecution.optimizedPlan.toString
        .contains("intersect_count_sorted"))
      assert(nullable.collect().head.getInt(0) === 1)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.IntersectCountRewrite)
    }
  }

  test("graft_tokenize: SQL registration plans the Column API's expression tree") {
    import graft.functions.TextFns
    import org.apache.spark.sql.functions.col
    GraftExtensions.register(spark)
    val docs = Seq((1L, "Alpha beta! 123 GAMMA-delta  x"), (2L, "")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("graft_tok_spec")
    val viaSql = spark.sql("SELECT graft_tokenize(text) AS w FROM graft_tok_spec")
    val viaColumn = docs.select(TextFns.orderedWordsOf(col("text")).as("w"))
    // value parity on the edges (punctuation strip, numeric-only token
    // drop, hyphen fusion, empty text)
    assert(viaSql.collect().map(_.getSeq[String](0).toList).toList ===
      viaColumn.collect().map(_.getSeq[String](0).toList).toList)
    assert(viaSql.collect().head.getSeq[String](0).toList ===
      List("alpha", "beta", "gammadelta", "x"))
    // NOT a UDF: both surfaces analyze to the same codegen'd built-in
    // tree (ArrayFilter(ArrayTransform(StringSplit …))) — node-class
    // sequence equality is the "same expression" pin (exprIds differ
    // across plans, so semantic equality cannot compare directly)
    def shape(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.expressions.head.collect {
        case e => e.getClass.getSimpleName
      }
    assert(shape(viaSql) === shape(viaColumn))
    assert(shape(viaSql).exists(_.contains("ArrayFilter")))
    assert(!shape(viaSql).exists(_.toLowerCase.contains("udf")))
  }

  test("graft_tokenize: the build-time injection uses the same builder value") {
    // the injectFunction tuple and the live register() path share ONE
    // builder (GraftExtensions.tokenizeBuilder); drive it directly the
    // way the analyzer would (a shared local session cannot rebuild
    // itself withExtensions — getOrCreate would return the existing one)
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.functions.lit
    val e = GraftExtensions.tokenizeBuilder(
      Seq(GraftColumnBridge.expression(lit(" Spark 4.1 SQL! "))))
    val out = Seq(1).toDF("i").select(GraftColumnBridge.column(e).as("w"))
      .collect().head.getSeq[String](0).toList
    assert(out === List("spark", "sql"))
  }

  test("dot_product_double: bit-identical to the HOF left fold it replaced") {
    import graft.functions.DotProductDouble
    import org.apache.spark.sql.functions._
    val vecs = Seq(
      (Array(1.5, -2.25, 0.125, 3.0), Array(0.5, 4.0, -8.0, 0.25)),
      (Array(0.1, 0.2, 0.3, 0.7), Array(0.9, 0.8, 0.7, 0.3)),
      (Array.empty[Double], Array.empty[Double])).toDF("a", "b")
    val got = vecs.select(
      DotProductDouble(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0d), (acc, x) => acc + x).as("hof")).collect()
    got.foreach { r =>
      // exact bit equality, not tolerance — the DuckDB oracle hash
      // compare depends on the identical left-fold order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("lsh_bucket: bit-identical to the CASE-tree sign-bit sum, both families") {
    import graft.functions.{DotProductDouble, Hashing, LshBucket}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dim = 64
    // the form the kernel replaced: one CASE WHEN per plane over a
    // literal weight array, the bits summed
    def caseTree(v: org.apache.spark.sql.Column, from: Int, until: Int) =
      (from until until).map { p =>
        val w = array((0 until dim).map(d => lit(Hashing.planeWeight(p, d).toDouble)): _*)
        when(DotProductDouble(v, w) > 0, lit(1L << (p - from))).otherwise(lit(0L))
      }.reduce(_ + _)
    val rnd = new scala.util.Random(20261019L)
    val seeded = (1 to 200).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    // a dot product of exactly 0 on plane p: v_a = w(p,b), v_b = -w(p,a)
    def zeroOn(p: Int) = {
      val v = Array.fill(dim)(0.0)
      v(0) = Hashing.planeWeight(p, 1).toDouble
      v(1) = -Hashing.planeWeight(p, 0).toDouble
      v
    }
    val vecs = seeded ++ Seq(Array.fill(dim)(0.0), zeroOn(0), zeroOn(Hashing.NumPlanes))
    val rows = vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) } :+
      Row(-1L, null)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType, containsNull = false)))))
    val families = Seq(0 -> Hashing.NumPlanes, Hashing.NumPlanes -> 2 * Hashing.NumPlanes)
    // generated code and the interpreted path both
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try families.foreach { case (from, until) =>
        val got = df.select(col("id"), LshBucket(col("v"), from, until, dim).as("k"),
          caseTree(col("v"), from, until).as("ref")).collect()
        assert(got.length === vecs.length + 1)
        got.foreach(r => assert(r.getLong(1) === r.getLong(2),
          s"$mode planes [$from, $until) id ${r.getLong(0)}"))
        assert(got.find(_.getLong(0) == -1L).get.getLong(1) === 0L,
          "a null vector must map to bucket 0")
        assert(got.map(_.getLong(1)).distinct.length > 16, "degenerate buckets")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("poly_hash: codegen'd expression ≡ the HOF fold spec, incl. non-ASCII fallback") {
    import graft.functions.TextFns
    import org.apache.spark.sql.functions.col
    val strs = Seq("", "a", "hello", "The QUICK brown fox 123!?",
      "x" * 5000, "café über", "mixedÿŁascii",
      "a𝄞b" /* astral plane: spec folds the CODEPOINT */).toDF("s")
    val got = strs.select(
      TextFns.polyHash(col("s")).as("fast"),
      TextFns.polyHashHof(col("s")).as("hof")).collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("poly_hash property: \u2261 spec fold on random strings (ScalaCheck)") {
    import graft.functions.TextFns
    import org.apache.spark.sql.functions.col
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genStrs: Gen[List[String]] = Gen.listOfN(24,
      Gen.frequency(
        5 -> Gen.asciiPrintableStr,
        2 -> Gen.alphaNumStr,
        1 -> Gen.listOf(Gen.choose(' ', '\u07ff')).map(_.mkString)))
    val prop = Prop.forAll(genStrs) { ss =>
      val got = (ss :+ "").toDF("s").select(
        TextFns.polyHash(col("s")).as("fast"),
        TextFns.polyHashHof(col("s")).as("hof")).collect()
      got.forall(r => r.getLong(0) == r.getLong(1))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("typed PostingsAggregator matches the expression pipeline (q02 ≡ q37)") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val expr = InvertedIndex.postings(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2).toList))
    val typed = InvertedIndex.postingsTyped(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2).toList))
    assert(typed === expr)
  }

  test("unicode tokenizer keeps \\p{L} letters the ASCII path destroys") {
    import graft.functions.TextFns
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "Café naïve test", "fr"),
      (2L, "Straße über 42!", "de"),
      (3L, "中文 mixed ascii", "zh"), // CJK survives only the Unicode path
      (4L, "plain ascii words", "en")).toDF("doc_id", "text", "lang")
    val uni = TextFns.tokensUnicode(docs).select("doc_id", "word")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // accents, sharp-s, umlauts, CJK all kept and case-folded
    assert(uni.contains((1L, "café")))
    assert(uni.contains((1L, "naïve")))
    assert(uni.contains((2L, "straße")))
    assert(uni.contains((2L, "über")))
    assert(uni.contains((3L, "中文")))
    // digits/punctuation still stripped; pure-number token drops
    assert(!uni.exists(_._2.exists(_.isDigit)))
    // the ASCII parity path reads the same tokens destructively
    val ascii = docs.select(TextFns.normalize(lit("Café"))).collect()(0).getString(0)
    assert(ascii === "caf")
    // q104 audit: divergence counted only where the two paths differ
    val stats = graft.operators.TextAnalysis.unicodeTokenStats(docs)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(stats("fr") === 2L) // café, naïve
    assert(stats("de") === 2L) // straße, über
    assert(stats("zh") === 1L) // the CJK token (ASCII path: empty string)
    assert(stats("en") === 0L)
  }
}
