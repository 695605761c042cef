package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.Dedup
import graft.text.TextAnalysis

/** Bit-identity of the native Catalyst expressions against the scalar-UDF /
  * higher-order forms they replace, over adversarial inputs — plus the
  * codegen assertion (the whole point of the expressions is staying inside
  * whole-stage codegen with zero per-row allocation).
  */
class FunctionsSpec extends SparkSpec {

  // Adversarial corpus: ASCII, BMP unicode, non-BMP (surrogate pairs in the
  // Java string), lone surrogates (Java encodes them to '?' on the way into
  // UTF8String — both paths must hash the round-tripped form), empties, long
  // repetitive text, every power-of-two length boundary near the decoder's
  // branch points.
  private def adversarial: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val basic = Seq(
      "", " ", "a", "hello world", "the quick brown fox",
      "héllo wörld ünïcode", "日本語のテキスト", "русский текст",
      "emoji \ud83d\ude00\ud83e\udd16 mixed", "\ud83d\ude00",
      "math 𝕊𝕡𝕒𝕣𝕜 letters", "tab\tnewline\nmixed",
      "lone high \ud800 surrogate", "lone low \udc00 surrogate",
      "\udc00\ud800 reversed pair", "ascii with ß and ñ",
      "\u0000 nul char", "\u007f\u0080\u07ff\u0800\uffff boundaries")
    val fuzz = (0 until 200).map { _ =>
      val len = rnd.nextInt(50)
      new String((0 until len).map { _ =>
        rnd.nextInt(3) match {
          case 0 => (rnd.nextInt(95) + 32).toChar // ASCII
          case 1 => (rnd.nextInt(0x700) + 0x80).toChar // 2-byte UTF-8
          case _ => (rnd.nextInt(0xF000) + 0x800).toChar // 3-byte (may hit surrogates)
        }
      }.toArray)
    }
    val pairs = (0 until 50).map { i =>
      val cp = 0x10000 + rnd.nextInt(0xFFFF)
      s"pre${new String(Character.toChars(cp))}post$i"
    }
    basic ++ fuzz ++ pairs
  }

  test("Fingerprint64 expression is bit-identical to the fingerprint UDF") {
    val s = spark
    import s.implicits._
    // the UDF handles null explicitly (null -> 0L) and the native wrapper
    // coalesces to 0L, so plain equality covers the null row too
    val df = (adversarial :+ null).toDF("text")
    val both = df.select(
      TextAnalysis.fingerprintUdf(col("text")).as("udf"),
      GraftExpressions.fingerprint64(col("text")).as("native"))
    both.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"fingerprint mismatch on row $r")
    }
  }

  test("SimHash64 expression is bit-identical to the simhash UDF") {
    val s = spark
    import s.implicits._
    val df = (adversarial.filter(_ != null) :+ "").toDF("text")
    val toks = TextAnalysis.tokens(col("text"))
    val both = df.select(
      Dedup.simhashUdf(toks).as("udf"),
      GraftExpressions.simhash64(toks).as("native"))
    both.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"simhash mismatch on $r")
    }
  }

  test("MinHashSig expression is bit-identical to the windowed signature UDF") {
    val s = spark
    import s.implicits._
    // adversarial already covers non-BMP pairs, lone surrogates and fuzz; a
    // small-alphabet tail forces duplicate windows through the dedup table
    val rnd = new scala.util.Random(13)
    val dups = (0 until 30).map { _ =>
      (0 until rnd.nextInt(80)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    }
    val df = (adversarial ++ dups :+ null).toDF("text")
    for (kk <- Seq(3, 5); k <- Seq(4, 12)) {
      val both = df.select(
        Dedup.minhashSignatureUdf(col("text"), kk, k).as("udf"),
        GraftExpressions.minhashSignature(col("text"), kk, k).as("native"))
      both.collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"minhash mismatch at kk=$kk k=$k on $r")
      }
    }
  }

  test("WhitespaceTokens expression is bit-identical to the regex/HOF tokenizer") {
    val s = spark
    import s.implicits._
    val ws = Seq(
      "a b", "  leading", "trailing   ", "\ttab\tsep\t", "line\nbreak",
      "verttab", "formfeed", "car\rreturn", "mixed \t\r\n all",
      "nbsp stays", "ideographic　stays", "em space-stays",
      "", "   ", "\t\n\r", "one", "a  b   c    d")
    val df = (adversarial ++ ws :+ null).toDF("text")
    val both = df.select(
      TextAnalysis.tokensHof(col("text")).as("hof"),
      TextAnalysis.tokens(col("text")).as("native"))
    both.collect().foreach { r =>
      val a = if (r.isNullAt(0)) null else r.getSeq[String](0)
      val b = if (r.isNullAt(1)) null else r.getSeq[String](1)
      assert(a == b, s"tokenizer mismatch: hof=$a native=$b")
    }
    // composes with lower() upstream and wordNgrams downstream unchanged
    val ng = ws.toDF("text").select(
      TextAnalysis.wordNgrams(col("text"), 2).as("native"))
    assert(ng.count() == ws.length)
  }

  test("WordNgrams expression is bit-identical to the HOF chain, fused distinct to array_distinct") {
    val s = spark
    import s.implicits._
    val ws = Seq(
      "a b c d", "one", "", "   ", "a a a a a", "x y x y x y",
      "tab\tand\nnewline seps", "trailing spaces   ", null.asInstanceOf[String])
    val df = (adversarial ++ ws).toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      val both = df.select(
        TextAnalysis.wordNgramsHof(col("text"), n).as("hof"),
        TextAnalysis.wordNgrams(col("text"), n).as("native"),
        array_distinct(TextAnalysis.wordNgramsHof(col("text"), n)).as("hofd"),
        TextAnalysis.distinctWordNgrams(col("text"), n).as("natived"))
      both.collect().foreach { r =>
        def g(i: Int) = if (r.isNullAt(i)) null else r.getSeq[String](i)
        assert(g(0) == g(1), s"ngram mismatch at n=$n: hof=${g(0)} native=${g(1)}")
        assert(g(2) == g(3), s"distinct ngram mismatch at n=$n: ${g(2)} vs ${g(3)}")
      }
    }
  }

  test("StopHits and LangId expressions match their HOF/UDF reference forms") {
    val s = spark
    import s.implicits._
    // language-shaped rows on top of the adversarial corpus: stopword-rich
    // text per language, mixed case (lowercasing is part of the contract),
    // unicode lookalikes, duplicates (occurrence counting, not distinct)
    val langish = Seq(
      "The cat and THE dog of it", "der Hund und die Katze ist",
      "le chat et la vie est", "el perro y la casa es",
      "THE THE the tHe", "und und und", "no stopwords here xyzzy",
      "", "one", "Ünïcode ÏS weird", "İ THE İstanbul case")
    val df = (adversarial ++ langish :+ null).toDF("text")
    val toks = TextAnalysis.tokens(col("text"))
    val rows = df.select(
      TextAnalysis.stopHitsHof(toks).as("hofHits"),
      GraftExpressions.stopHits(toks, "en").as("natHits"),
      TextAnalysis.langIdUdf(toks).as("udfLang"),
      GraftExpressions.langId(toks).as("natLang")).collect()
    rows.foreach { r =>
      val (a, b) = (if (r.isNullAt(0)) null else Int.box(r.getInt(0)),
        if (r.isNullAt(1)) null else Int.box(r.getInt(1)))
      assert(a == b, s"stopHits mismatch: $a vs $b in $r")
      assert(r.getString(2) == r.getString(3),
        s"langId mismatch: ${r.getString(2)} vs ${r.getString(3)} in $r")
    }
    // unknown language fails loudly at construction, not per row
    val e = intercept[IllegalArgumentException] {
      GraftExpressions.stopHits(col("text"), "tlh")
    }
    assert(e.getMessage.contains("tlh"), e.getMessage)
  }

  test("NormalizeVec expression matches the bind-once HOF normalization bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(19)
    val vecs: Seq[Seq[java.lang.Float]] = (0 until 80).map { _ =>
      Seq.fill(1 + rnd.nextInt(96))(java.lang.Float.valueOf(rnd.nextGaussian().toFloat))
    } ++ Seq(
      Seq[java.lang.Float](1.0f, null, 3.0f),                // null element -> null slots
      Seq[java.lang.Float](),                                // empty
      null.asInstanceOf[Seq[java.lang.Float]])               // null vec -> null
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = true))))
    val rowList = new java.util.ArrayList[org.apache.spark.sql.Row]()
    vecs.foreach(v => rowList.add(org.apache.spark.sql.Row(v)))
    val df = spark.createDataFrame(rowList, schema)
    val rows = df.select(
      graft.pipeline.Ann.normalizeHof(col("vec")).as("hof"),
      graft.pipeline.Ann.normalize(col("vec")).as("native")).collect()
    rows.foreach { r =>
      def g(i: Int): Seq[Any] = if (r.isNullAt(i)) null else r.getSeq[Any](i)
      val (a, b) = (g(0), g(1))
      if (a == null || b == null) assert(a == null && b == null, s"null-shape mismatch $r")
      else {
        assert(a.length == b.length, s"length mismatch $r")
        a.zip(b).foreach {
          case (null, y) => assert(y == null, s"null slot mismatch $r")
          case (x: Double, y: Double) =>
            assert(java.lang.Double.doubleToRawLongBits(x) ==
              java.lang.Double.doubleToRawLongBits(y), s"value mismatch $x vs $y in $r")
          case other => fail(s"unexpected slot shape $other in $r")
        }
      }
    }
    // the zero-vector edge: BOTH forms fail loudly (HOF via ANSI
    // DIVIDE_BY_ZERO, native via its own guard). Fail-loud matters: a
    // silent NaN result would out-rank every real neighbor downstream
    // (Spark's SQL ordering puts NaN above every double).
    val zeroRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    zeroRows.add(org.apache.spark.sql.Row(Seq.fill(8)(java.lang.Float.valueOf(0.0f))))
    val zdf = spark.createDataFrame(zeroRows, schema)
    val natErr = intercept[Exception] {
      zdf.select(graft.pipeline.Ann.normalize(col("vec")).as("v")).collect()
    }
    def rootMessages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ rootMessages(t.getCause)
    assert(rootMessages(natErr).exists(_.contains("zero vector")), natErr.toString)
    intercept[Exception] {
      zdf.select(graft.pipeline.Ann.normalizeHof(col("vec")).as("v")).collect()
    }
    // the empty vector is NOT the zero-vector edge: no element divides, so
    // both forms agree on an empty array (covered by the parity rows above)
  }

  test("DotProduct expression matches the aggregate(zip_with) fold bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 100).map { _ =>
      val d = 1 + rnd.nextInt(96)
      (Array.fill(d)(rnd.nextGaussian()), Array.fill(d)(rnd.nextGaussian()))
    }
    val df = vecs.toDF("x", "y")
    val hof = aggregate(
      zip_with(col("x"), col("y"), (p, q) => p * q), lit(0.0), (a, v) => a + v)
    val rows = df.select(hof.as("hof"), GraftExpressions.dot(col("x"), col("y")).as("native"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"dot mismatch on $r")
    }
    // float inputs take the same element-widening path as zip_with's cast
    val fdf = vecs.map { case (x, y) => (x.map(_.toFloat), y.map(_.toFloat)) }
      .toDF("x", "y")
    val fhof = aggregate(
      zip_with(col("x"), col("y"),
        (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (a, v) => a + v)
    fdf.select(fhof.as("hof"), GraftExpressions.dot(col("x"), col("y")).as("native"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      }
    // null semantics: length mismatch and null arrays -> null (as zip_with)
    val edge = Seq(
      (Array(1.0, 2.0), Array(1.0)), // length mismatch
      (null, Array(1.0)), (Array(1.0), null), (null, null))
      .toDF("x", "y")
    val e = edge.select(fhofLike(col("x"), col("y")).as("hof"),
      GraftExpressions.dot(col("x"), col("y")).as("native")).collect()
    e.foreach { r => assert(r.isNullAt(0) == r.isNullAt(1), s"null-shape mismatch $r") }
    e.foreach { r => assert(r.isNullAt(1), s"expected null dot for $r") }
  }

  private def fhofLike(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (a, v) => a + v)

  test("HyperplaneSig expression is bit-identical to the scalar signature UDF") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // gaussian vectors of varied dims, near-zero projections (sign-boundary
    // stress), empty vector, plus a null row (UDF null branch -> 0L)
    val vecs: Seq[Seq[Double]] = (0 until 120).map { _ =>
      Seq.fill(1 + rnd.nextInt(96))(rnd.nextGaussian())
    } ++ (0 until 20).map { _ =>
      Seq.fill(64)(rnd.nextGaussian() * 1e-12)
    } :+ Seq.empty[Double]
    val df = (vecs :+ null.asInstanceOf[Seq[Double]]).toDF("vec")
    for (planes <- Seq(1, 8, 16, 64); off <- Seq(0, 8, 37)) {
      val both = df.select(
        graft.pipeline.Ann.hyperplaneSignatureUdf(col("vec"), planes, off).as("udf"),
        graft.pipeline.Ann.hyperplaneSignature(col("vec"), planes, off).as("native"))
      both.collect().foreach { r =>
        assert(r.getLong(0) == r.getLong(1),
          s"hyperplane mismatch at planes=$planes off=$off on $r")
      }
    }
    // float inputs widen identically (the UDF's Seq[Double] cast vs the
    // wrapper's array<double> cast)
    val fdf = vecs.map(v => v.map(_.toFloat)).toDF("vec")
    val fboth = fdf.select(
      graft.pipeline.Ann.hyperplaneSignatureUdf(col("vec"), 8, 0).as("udf"),
      graft.pipeline.Ann.hyperplaneSignature(col("vec"), 8, 0).as("native"))
    fboth.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"float hyperplane mismatch on $r")
    }
    // stays out of ScalaUDF in the plan
    val plan = df.select(graft.pipeline.Ann.hyperplaneSignature(col("vec"), 8, 0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_hyperplane_sig") && !plan.contains("ScalaUDF"), plan)
  }

  test("HyperplaneSig refuses more planes than a long has sign bits") {
    intercept[IllegalArgumentException] {
      HyperplaneSig(org.apache.spark.sql.catalyst.expressions.Literal(null), 65, 0)
    }
  }

  test("MaxSortedRun expression equals the aggregate(sort_array) reference fold") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    // small-alphabet token arrays force heavy duplication; include empty,
    // single, all-equal, and adversarial unicode grams
    val arrays: Seq[Seq[String]] = (0 until 150).map { _ =>
      Seq.fill(rnd.nextInt(60))(s"tok${rnd.nextInt(6)} g${rnd.nextInt(4)}")
    } ++ Seq(Seq.empty[String], Seq("only"), Seq.fill(17)("same gram"),
      Seq("a", null, "a", null, null, "b"), Seq(null, null)) ++
      adversarial.grouped(7).map(_.toSeq).toSeq
    val df = (arrays :+ null.asInstanceOf[Seq[String]]).toDF("b")
    val both = df.select(
      TextAnalysis.topRunHof(col("b")).as("hof"),
      GraftExpressions.maxSortedRun(col("b")).as("native"))
    both.collect().foreach { r =>
      val a = if (r.isNullAt(0)) null else Int.box(r.getInt(0))
      val b = if (r.isNullAt(1)) null else Int.box(r.getInt(1))
      assert(a == b, s"maxSortedRun mismatch: hof=$a native=$b in $r")
    }
    val plan = df.select(GraftExpressions.maxSortedRun(col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_max_sorted_run"), plan)
  }

  test("repetitionSignals: dup/top n-gram fractions on crafted documents") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a a a"),          // dup_word 2/3; bigrams [a a, a a]: dup 1/2, top 2/2
      (2L, "x y z"),          // no repeats; 2 distinct bigrams, top 1/2
      (3L, "w"),              // no bigrams at all
      (4L, ""),
      (5L, null.asInstanceOf[String]),
      (6L, "b a b a b")       // bigrams [b a, a b, b a, a b]: the top run of
                              // the SORTED array (a b, a b, b a, b a) is 2/4
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "text")
      .select($"doc_id", $"dup_word_frac", $"dup_bigram_frac", $"top_bigram_frac")
      .as[(Long, Double, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2.0 / 3, 0.5, 1.0)))
    assert(out(2L) == ((0.0, 0.0, 0.5)))
    assert(out(3L) == ((0.0, 0.0, 0.0)))
    assert(out(4L) == ((0.0, 0.0, 0.0)))
    assert(out(5L) == ((0.0, 0.0, 0.0)))
    assert(out(6L) == ((0.6, 0.5, 0.5)))
  }

  test("SQL surface: graft_* functions resolve via the extensions registry") {
    // SharedSpark is built by GraftSession, which wires GraftExtensions in
    val r = spark.sql(
      """SELECT graft_fingerprint64('hello world') AS fp,
        |       graft_simhash64(graft_tokens('hello world again')) AS sh,
        |       graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       size(graft_tokens('  a  b  ')) AS n,
        |       graft_minhash('hello world', 5, 4) AS mh""".stripMargin).head()
    // cross-check against the Column API (same expressions, same kernels)
    val s = spark
    import s.implicits._
    val viaCols = Seq(("hello world", "hello world again")).toDF("t1", "t2")
      .select(GraftExpressions.fingerprint64(col("t1")).as("fp"),
        GraftExpressions.simhash64(TextAnalysis.tokens(col("t2"))).as("sh"))
      .head()
    assert(r.getLong(0) == viaCols.getLong(0))
    assert(r.getLong(1) == viaCols.getLong(1))
    assert(r.getDouble(2) == 11.0)
    assert(r.getInt(3) == 2)
    val mhCols = Seq("hello world").toDF("t")
      .select(GraftExpressions.minhashSignature(col("t"), 5, 4).as("mh")).head()
    assert(r.getSeq[Long](4) == mhCols.getSeq[Long](0))
    // non-literal shingleK must fail loudly at resolution, not mis-plan
    val err = intercept[Exception] {
      spark.sql("SELECT graft_minhash('x', length('abcde'), 4)").collect()
    }
    assert(err.getMessage.contains("integer literal"), err.getMessage)
    // the SQL surface routes through the SAME Column wrappers, so the
    // wrappers' edge contracts hold for SQL users too: null text -> the
    // all-Long.MaxValue signature (not null), null token array -> empty
    // gram array (not null), float vectors widen like the Column API
    val edge = spark.sql(
      """SELECT graft_minhash(CAST(NULL AS STRING), 5, 4) AS mh,
        |       graft_word_ngrams(CAST(NULL AS ARRAY<STRING>), 2, true) AS ng,
        |       graft_normalize(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS nv,
        |       graft_langid(CAST(NULL AS ARRAY<STRING>)) AS lidnull,
        |       graft_langid(graft_tokens('the cat and the dog of it')) AS lid,
        |       graft_stophits(CAST(NULL AS ARRAY<STRING>), 'en') AS shnull,
        |       graft_stophits(graft_tokens('THE cat and the dog'), 'en') AS sh
        |""".stripMargin).head()
    assert(edge.getSeq[Long](0) == Seq.fill(4)(Long.MaxValue), edge.toString)
    assert(edge.getSeq[String](1) == Seq.empty, edge.toString)
    assert(edge.getSeq[Double](2) == Seq(0.6, 0.8), edge.toString)
    assert(edge.getString(3) == "und", edge.toString)   // null -> 'und', as the Column API
    assert(edge.getString(4) == "en", edge.toString)
    assert(edge.isNullAt(5), edge.toString)             // null -> null, as the Column API
    assert(edge.getInt(6) == 3, edge.toString)          // THE + and + the (occurrences)
  }

  test("native expressions run inside WholeStageCodegen (no ScalaUDF, no interpreted fallback)") {
    // spark.range is a real codegen leaf — a literal local Dataset would be
    // constant-folded into a LocalTableScan before any codegen happens
    val base = spark.range(100)
      .select(concat(lit("document text "), col("id")).as("text"))
    val fp = base.select(col("text"),
      GraftExpressions.fingerprint64(col("text")).as("fp"))
    val fpPlan = fp.queryExecution.executedPlan.toString
    assert(fpPlan.contains("graft_fingerprint64"), fpPlan)
    assert(!fpPlan.contains("ScalaUDF"), s"expected no UDF in plan:\n$fpPlan")
    // "*(n)" marks operators fused into a WholeStageCodegen stage; the
    // project evaluating the expression must carry it
    val projLine = fpPlan.linesIterator.find(_.contains("graft_fingerprint64")).get
    assert(projLine.trim.startsWith("*("),
      s"expression project not whole-stage-codegen'd:\n$fpPlan")
    // simhash's INPUT is the tokenizer — a higher-order `filter`, which is
    // CodegenFallback and keeps its project interpreted. The expression
    // itself still evaluates natively over ArrayData (no UDF, no String
    // materialization); assert the plan shape it actually gets.
    val sh = base.select(
      GraftExpressions.simhash64(TextAnalysis.tokens(col("text"))).as("sh"))
    val shPlan = sh.queryExecution.executedPlan.toString
    assert(shPlan.contains("graft_simhash64"), shPlan)
    assert(!shPlan.contains("ScalaUDF"), s"expected no UDF in plan:\n$shPlan")
    // minhash: string child, no HOF input — must fuse like fingerprint
    val mh = base.select(
      GraftExpressions.minhashSignature(col("text"), 5, 12).as("mh"))
    val mhPlan = mh.queryExecution.executedPlan.toString
    assert(mhPlan.contains("graft_minhash"), mhPlan)
    assert(!mhPlan.contains("ScalaUDF"), s"expected no UDF in plan:\n$mhPlan")
    val mhLine = mhPlan.linesIterator.find(_.contains("graft_minhash")).get
    assert(mhLine.trim.startsWith("*("),
      s"minhash project not whole-stage-codegen'd:\n$mhPlan")
    // force execution so a Janino compile error in doGenCode would surface
    assert(fp.count() > 0 && sh.count() > 0 && mh.count() > 0)
  }
}
