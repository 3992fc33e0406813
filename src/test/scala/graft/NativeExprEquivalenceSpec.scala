package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => PropTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** The native expressions exist purely for per-row cost — each must be
  * value-identical to the declarative Spark form it replaced (which is
  * also what the DuckDB oracles mirror). These tests pin that equivalence
  * on adversarial inputs so future performance work can't drift
  * semantics.
  */
class NativeExprEquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-equiv-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Declarative restatement of [[graft.ops.Similarity.pqEncode]]'s
    * per-row encoding — `array_min` over (distance, index) structs with
    * explicit left-associated squared-difference sums: the executable
    * specification of the native [[graft.functions.PqCodes]] path, at
    * ~1k expression nodes per row.
    */
  private def pqEncodeDeclarative(corpus: DataFrame, subs: Int, k: Int): DataFrame = {
    val (c, cents) = graft.ops.Similarity.pqPrep(corpus, subs, k, "vec_id", "embedding")
    val subDim = cents.head.length / subs
    val codeCols = (0 until subs).map { s =>
      val structs = cents.indices.map { j =>
        val dist = (0 until subDim).map { i =>
          val pos = s * subDim + i
          val diff = element_at(col("e"), pos + 1) - lit(cents(j)(pos))
          diff * diff
        }.reduceLeft(_ + _)
        struct(dist.as("d"), lit(j.toLong).as("j"))
      }
      array_min(array(structs: _*)).getField("j").as(s"c$s")
    }
    c.select(col("vec_id") +: codeCols: _*)
  }

  private def texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b", "", "one", "x y z", "dup dup dup dup",
    "Sig@ns & punctuation-heavy!! text?? with 123 numbers",
    ("w " * 200).trim)

  /** Declarative restatement of [[graft.functions.tokens]]: the
    * `lower` + regex `split` + lambda `filter` chain the native
    * [[graft.functions.Tokens]] replaced, and what the DuckDB oracles
    * mirror. The executable specification of the tokenizer.
    */
  private def tokensDeclarative(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= lit(""))

  /** Runs `body` under each of the four (ICU case mapping on/off,
    * codegen'd/interpreted) settings the tokenizer must agree in.
    */
  private def tokenModes(body: String => Unit): Unit =
    for (icu <- Seq(true, false); codegen <- Seq(true, false)) {
      graft.spark.SessionConf.withConf(spark,
        "spark.sql.icu.caseMappings.enabled" -> icu.toString,
        "spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")) {
        body(s"icu=$icu codegen=$codegen")
      }
    }

  /** Rows whose `text` is `s` or, when `s` is null, the binary `b` cast to
    * string (invalid UTF-8 included). Built from an RDD so the optimizer
    * cannot fold the projection over a local relation before it runs.
    */
  private def textRows(rows: Seq[(String, Array[Byte])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("b", BinaryType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (s, b) => Row(s, b) }, 2), schema)
      .select(coalesce(col("s"), col("b").cast("string")).as("text"))
  }

  /** Rows where the native tokens differ from the declarative ones. */
  private def tokenMismatches(df: DataFrame, mode: String): Seq[String] = {
    val out = df.select(col("text"), tokens(col("text")).as("nat"),
      tokensDeclarative(col("text")).as("dec"))
    val codegen = out.queryExecution.executedPlan
      .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
    assert(codegen == mode.endsWith("codegen=true"), s"$mode: plan ${out.queryExecution.executedPlan}")
    out.collect().toSeq.collect {
      case r if r.get(1) != r.get(2) => s"$mode: text=${r.get(0)} native=${r.get(1)} spec=${r.get(2)}"
    }
  }

  private val tokenEdgeCases: Seq[String] = Seq(
    null, "", " \t--,, !? ", "--leading and trailing--", "0 42 007 x9y8 1a2b3",
    "MiXeD CaSe ABC def GHI",
    "ÀÉÎÕÜ çñ ÅØÞ ΑΒΓ ΣΊΣΥΦΟΣ Ωmega ÉcoleX",
    "\u212Aelvin 5\u212A \u212A",                  // Kelvin sign lowers to ASCII 'k'
    "\u0130stanbul \u0130I i\u0130i",              // dotted capital I lowers to "i" + U+0307
    "straße STRASSE \u1E9E Maß",                     // ß and capital ẞ
    "a\uD83D\uDE00b \uD835\uDC00\uD835\uDC01C x\uD83D\uDE00", // surrogate pairs
    "tab\tnew\nline\u0000nul")

  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    Array(0xC3, 0x28, 0x41, 0x62),                   // bad continuation byte
    Array(0xFF, 'Z', 0xE2, 0x84, 'k', 0x80),         // truncated and stray bytes
    Array(0xF0, 0x9F, 'A', 'b', 0xC0, 0xAF, '9'),    // overlong encoding
    Array(0xED, 0xA0, 0x80, 'x', 'Y', 0xED, 0xB0, 0x80) // encoded lone surrogates
  ).map(_.map(_.toByte))

  test("Tokens == declarative filter(split(lower)) on edge cases, ICU on/off, interpreted and codegen'd") {
    val df = textRows(tokenEdgeCases.map(s => (s, null)) ++ invalidUtf8.map(b => (null, b)))
    tokenModes { mode =>
      val bad = tokenMismatches(df, mode)
      assert(bad.isEmpty, bad.mkString("\n"))
    }
    // the spec really is exercised: a non-ASCII capital lowering to ASCII yields a token
    val kelvin = df.where(col("text") === "\u212Aelvin 5\u212A \u212A")
      .select(tokens(col("text"))).head().getSeq[String](0)
    assert(kelvin == Seq("kelvin", "5k", "k"))
  }

  test("Tokens == declarative spec over random mixed ASCII/non-ASCII text (ScalaCheck)") {
    val alphabet = ("abcXYZ019 -_.,\t".map(_.toString) ++ Seq(
      "é", "É", "ß", "\u1E9E", "\u0130", "ı", "\u212A", "Σ", "ς", "ǅ", "Ⅻ", "Ａ",
      "\uD83D\uDE00", "\u0000", "\u0307"))
    val asciiChar = Gen.oneOf("abcdeXYZ0189 ,.-!".toSeq).map(_.toString)
    val text = Gen.frequency(
      1 -> Gen.listOf(asciiChar).map(_.mkString),
      2 -> Gen.listOf(Gen.oneOf(alphabet)).map(_.mkString))
    val prop = Prop.forAll(Gen.listOfN(48, text)) { batch =>
      val df = textRows(batch.map(s => (s, null)))
      var bad = Seq.empty[String]
      tokenModes(mode => bad ++= tokenMismatches(df, mode))
      Prop(bad.isEmpty) :| bad.take(5).mkString("\n")
    }
    val res = PropTest.check(PropTest.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(20261019L), prop)
    assert(res.passed, res.status.toString)
  }

  test("Shingles == declarative transform+slice form") {
    import spark.implicits._
    val df = texts.toDF("text").select(tokens(col("text")).as("tk"))
    for (n <- Seq(1, 2, 3, 5)) {
      val declarative = when(size(col("tk")) >= n,
        transform(sequence(lit(1), size(col("tk")) - (n - 1)),
          i => concat_ws(" ", slice(col("tk"), i, lit(n)))))
        .otherwise(array().cast("array<string>"))
      val rows = df.select(shingles(col("tk"), n).as("nat"), declarative.as("dec")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n row=$r")
      }
    }
  }

  test("MinHash31 == declarative array_min over the same universal hashes") {
    import spark.implicits._
    val k = 4
    val (as, bs) = MinHashUtil.params(k)
    val df = texts.toDF("text")
      .select(shingles(tokens(col("text")), 2).as("sh"))
      .where(size(col("sh")) > 0)
    val declarative = (0 until k).map { i =>
      array_min(transform(col("sh"),
        s => (h60(s) % MinHashUtil.P * as(i) + bs(i)) % MinHashUtil.P))
    }
    val rows = df.select(minhash31(col("sh"), k).as("nat"), array(declarative: _*).as("dec"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"row=$r")
    }
  }

  test("DotProduct == declarative aggregate(zip_with(...)) left fold") {
    import spark.implicits._
    val vecs = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.0, 0.0), Array(0.0, 0.0)),
      (Array(1e-300, 1e300, -1e300), Array(1e300, 1.0, 1.0)),
      (Array(0.1, 0.2, 0.3, 0.7), Array(-0.5, 0.25, 0.125, 0.33)))
      .toDF("a", "b")
    val declarative = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0d), (acc, v) => acc + v)
    val rows = vecs.select(graft.ops.Similarity.dot(col("a"), col("b")).as("nat"),
      declarative.as("dec")).collect()
    rows.foreach { r =>
      val (n, d) = (r.getDouble(0), r.getDouble(1))
      assert(java.lang.Double.compare(n, d) == 0, s"native $n vs declarative $d")
    }
  }

  test("H60 == conv(substring(md5(...))) chain") {
    import spark.implicits._
    val df = (texts :+ "√unicode ✓ şçü").toDF("s")
    val declarative = conv(substring(md5(col("s").cast("string")), 1, 15), 16, 10).cast("long")
    val rows = df.select(h60(col("s")).as("nat"), declarative.as("dec")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"row=$r"))
  }

  test("PqCodes == declarative array_min over (distance, index) structs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i => (i, Seq.fill(16)(rnd.nextFloat()))) ++
      Seq((60L, Seq.fill(16)(0.0f))) // zero vector edge
    val df = vecs.toDF("vec_id", "embedding")
    val native = graft.ops.Similarity.pqEncode(df, subs = 4, k = 8)
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    val decl = pqEncodeDeclarative(df, subs = 4, k = 8)
      .orderBy(col("vec_id")).collect().map(_.toSeq)
    assert(native.toSeq == decl.toSeq)
  }

  test("LexExtreme == built-in min/max on strings and structs; plans ObjectHashAggregate") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(47)
    val rows = (1 to 2000).map { i =>
      val g = i % 7
      val s = if (i % 13 == 0) null
        else rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString
      (g, s, rnd.nextInt(1000).toLong, rnd.nextInt(50).toLong)
    }
    val df = rows.toDF("g", "s", "a", "b").repartition(5)
    // strings, with nulls ignored exactly like the built-in
    val nat = df.groupBy("g")
      .agg(expr("lex_min(s)").as("mn"), expr("lex_max(s)").as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    val ref = df.groupBy("g").agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    assert(nat == ref, s"string min/max drift: $nat vs $ref")
    // structs (the keep-first dedup reduction)
    val natS = df.groupBy("g").agg(expr("lex_min(struct(a, b))").as("m"))
      .select(col("g"), col("m.a"), col("m.b"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val refS = df.groupBy("g").agg(min(struct(col("a"), col("b"))).as("m"))
      .select(col("g"), col("m.a"), col("m.b"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(natS == refS, "struct lex_min drift")
    // all-null group → null, like the built-in
    val allNull = Seq((1, null: String), (1, null: String)).toDF("g", "s")
    assert(allNull.groupBy("g").agg(expr("lex_min(s)")).head().isNullAt(1))
    // the point of the function: hash aggregation, never a sort fallback
    val plan = df.groupBy("g").agg(expr("lex_min(struct(a, b))"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
      s"lex_min must plan as ObjectHashAggregate:\n$plan")
    val builtinPlan = df.groupBy("g").agg(min(struct(col("a"), col("b"))))
      .queryExecution.executedPlan.toString
    assert(builtinPlan.contains("SortAggregate"),
      "precondition drifted: built-in min(struct) no longer sort-aggregates — " +
        "if Spark gained hash support for it, lex_min can be retired")
  }

  test("sortedSink round-trip: files concatenated in order give the global order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val df = spark.range(1000).select((col("id") * 7919L % 1000L).as("v"), col("id"))
    graft.ops.Sorts.sortedSink(df, dir, col("v"), col("id"))
    // (file, offset)-order read with NO re-sort must equal the global order
    val back = graft.ops.Sorts.readSortedSink(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = df.orderBy("v", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(back.toSeq == expected.toSeq)
  }

  test("ns→µs conversion is exact floor division beyond double's 2^53 range") {
    import spark.implicits._
    // ns epochs ~1.7e18: (x / 1000.0).toLong drifts ±1 on many of these;
    // `div` must floor exactly for every low-bit pattern
    val ns = (0L until 2000L).map(i => 1754947200000000000L + i * 1237L + i % 7)
    val out = ns.toDF("ts").select(expr("ts div 1000").as("us")).as[Long].collect()
    assert(out.toSeq == ns.map(_ / 1000L))
    // and at least one of these values demonstrates the double-division bug
    assert(ns.exists(x => (x / 1000.0d).toLong != x / 1000L))
  }
}
