package graft.expressions

import graft.SparkSpec
import graft.core.Tables
import graft.operators.{DedupOps, Similarity}
import org.apache.spark.sql.functions._

/** Native-expression correctness: bit parity with the higher-order-function
  * constructions they replace, null handling, SQL registration, and the
  * SparkSessionExtensions path.
  */
class GraftExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("SimHash64 expression matches the HOF construction bit-for-bit") {
    val docs = Tables.documents(spark, sf0001).limit(100)
    val mismatches = docs
      .select(
        DedupOps.simhash($"text").as("native"),
        DedupOps.simhashHof($"text").as("hof"))
      .filter($"native" =!= $"hof")
      .count()
    assert(mismatches == 0)
  }

  test("CosineSimilarity expression matches the HOF fold bit-for-bit") {
    val emb = Tables.embeddings(spark, sf0001).limit(50)
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val mismatches = emb.crossJoin(q)
      .select(
        Similarity.cosine($"qv", $"embedding").as("native"),
        Similarity.cosineHof($"qv", $"embedding").as("hof"))
      .filter($"native" =!= $"hof") // exact double equality
      .count()
    assert(mismatches == 0)
  }

  test("MinHashSig expression matches the HOF construction bit-for-bit") {
    val docs = Tables.documents(spark, sf0001).limit(100)
    val mismatches = docs
      .select(
        GraftFunctions.minhashSig($"text", 3, 32).as("native"),
        DedupOps.minhashSignature(
          array_distinct(graft.operators.TextAnalysis.wordShingles($"text", 3)), 32).as("hof"))
      .filter($"native" =!= $"hof")
      .count()
    assert(mismatches == 0)
  }

  test("ShingleHashSet expression matches the HOF construction bit-for-bit") {
    val docs = Tables.documents(spark, sf0001).limit(100)
    val mismatches = docs
      .select(
        GraftFunctions.shingleHashes($"text", 3).as("native"),
        array_distinct(transform(
          graft.operators.TextAnalysis.wordShingles($"text", 3),
          s => xxhash64(s))).as("hof"))
      .filter($"native" =!= $"hof")
      .count()
    assert(mismatches == 0)
  }

  test("SrpSignature expression matches the HOF construction bit-for-bit") {
    val emb = Tables.embeddings(spark, sf0001).limit(100)
    for ((bits, offset) <- Seq((4, 0), (8, 0), (48, 0), (21, 21), (16, 1000))) {
      val mismatches = emb
        .select(
          Similarity.srpSignature($"embedding", bits, offset).as("native"),
          graft.operators.HofTwins.srpSignature($"embedding", bits, offset).as("hof"))
        .filter($"native" =!= $"hof")
        .count()
      assert(mismatches == 0, s"bits=$bits offset=$offset")
    }
    // offset banding equals the chunks of one contiguous signature: band b
    // of bandBits bits at offset b*bandBits == bits [b*bandBits, ...) of the
    // packed 48-bit signature (the pre-offset formulation)
    val mism = emb.select(
      Similarity.srpSignature($"embedding", 48).as("packed"),
      Similarity.srpSignature($"embedding", 6, 18).as("band3"))
      .filter(shiftrightunsigned($"packed", 18).bitwiseAND(lit(63L)) =!= $"band3")
      .count()
    assert(mism == 0)
  }

  test("CharNgrams expression matches the HOF construction bit-for-bit") {
    // HOF semantics only defined for length(text) >= n (shorter inputs make
    // sequence() run descending); the registry query filters those out
    val docs = Tables.documents(spark, sf0001).filter(length($"text") >= 3).limit(100)
    val mismatches = docs
      .select(
        graft.operators.TextAnalysis.charNgrams($"text", 3).as("native"),
        graft.operators.HofTwins.charNgrams($"text", 3).as("hof"))
      .filter($"native" =!= $"hof")
      .count()
    assert(mismatches == 0)
    // multi-byte characters count as ONE char each (å ä ö)
    val sv = Seq("skåla åäö").toDF("t")
      .select(graft.operators.TextAnalysis.charNgrams($"t", 3).as("g"))
      .as[Seq[String]].head()
    assert(sv.head == "skå" && sv.contains("åäö") && sv.length == 7)
  }

  test("BlockAHash matches an independent driver-side re-derivation bit-for-bit") {
    // reference: straightforward BigInt-rational means, no cross-multiply
    def ref(payload: Array[Byte]): Seq[Int] = {
      val n = payload.length
      val bands = Array.fill(4)(0)
      if (n > 0) {
        val vals = payload.map(_ & 0xFF)
        val mean = BigDecimal(vals.map(BigInt(_)).sum) / n
        for (blk <- 0 until 64) {
          val lo = blk * n / 64
          val hi = (blk + 1) * n / 64
          if (hi > lo) {
            val bm = BigDecimal(vals.slice(lo, hi).map(BigInt(_)).sum) / (hi - lo)
            if (bm > mean) bands(blk / 16) |= (1 << (15 - blk % 16))
          }
        }
      }
      bands.toSeq
    }
    val rows = Tables.documents(spark, sf0001).limit(200)
      .select($"doc_id", encode($"text", "UTF-8").as("p"))
      .select($"doc_id", $"p", GraftFunctions.aHashBands($"p").as("fp"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](2) == ref(r.getAs[Array[Byte]](1)),
        s"doc ${r.getLong(0)}")
    }
    // edge cases: empty payload -> all-zero bands; tiny payloads (< 64
    // bytes: some blocks empty); constant payload -> no strict winner
    val edges = Seq(Array.emptyByteArray, Array[Byte](7), Array[Byte](1, 2, 3),
      Array.fill[Byte](63)(42), Array[Byte](-128, 127, 0, -1))
    val got = edges.map(p => Seq(p).toDF("p")
      .select(GraftFunctions.aHashBands($"p")).collect().head.getSeq[Int](0))
    edges.zip(got).foreach { case (p, g) => assert(g == ref(p)) }
    assert(got.head == Seq(0, 0, 0, 0))
    assert(got(3) == Seq(0, 0, 0, 0)) // constant bytes: mean never exceeded
  }

  test("graft_ahash_bands is SQL-registered; binary-only; null passes through") {
    GraftFunctions.register(spark)
    val viaSql = Seq(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)).toDF("p")
      .selectExpr("graft_ahash_bands(p)").collect().head.getSeq[Int](0)
    val viaCol = Seq(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)).toDF("p")
      .select(GraftFunctions.aHashBands($"p")).collect().head.getSeq[Int](0)
    assert(viaSql == viaCol)
    val nulls = Seq((1, null: Array[Byte])).toDF("id", "p")
      .select(GraftFunctions.aHashBands($"p")).collect()
    assert(nulls.head.isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq("not binary").toDF("s").selectExpr("graft_ahash_bands(s)").collect()
    }
  }

  test("null inputs yield null (default null-intolerant behavior)") {
    val df = Seq((Some("a b"), None: Option[String])).toDF("s", "n")
    val r = df.select(
      DedupOps.simhash($"s").isNotNull.as("a"),
      DedupOps.simhash($"n").isNull.as("b")).collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1))
  }

  test("SQL registration: graft_simhash64 / graft_cosine_sim callable from SQL") {
    GraftFunctions.register(spark)
    val one = spark.sql(
      "SELECT graft_simhash64('hello world') AS h, " +
        "graft_cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "                 array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS c")
      .collect()(0)
    assert(one.getLong(0) != 0L)
    assert(math.abs(one.getDouble(1) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("SQL registration: sketch expressions callable from SQL, equal to the Column API") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      "SELECT graft_minhash_sig('a b c d e', 3, 8) AS mh, " +
        "graft_shingle_hashes('a b c d e', 3) AS sh, " +
        "graft_char_ngrams('abcd', 2) AS cn, " +
        "graft_srp_signature(array(CAST(0.5 AS FLOAT), CAST(-0.2 AS FLOAT)), 8) AS srp, " +
        "graft_srp_signature(array(CAST(0.5 AS FLOAT), CAST(-0.2 AS FLOAT)), 8, 8) AS srp_off")
      .collect()(0)
    val api = Seq(("a b c d e", Array(0.5f, -0.2f))).toDF("t", "v")
      .select(
        GraftFunctions.minhashSig($"t", 3, 8).as("mh"),
        GraftFunctions.shingleHashes($"t", 3).as("sh"),
        graft.operators.TextAnalysis.charNgrams($"t", 2).as("cn"),
        GraftFunctions.srpSig($"v", 8).as("srp"),
        GraftFunctions.srpSig($"v", 8, 8).as("srp_off"))
      .collect()(0)
    assert(row.getSeq[Long](0) == api.getSeq[Long](0))
    assert(row.getSeq[Long](1) == api.getSeq[Long](1))
    assert(row.getSeq[String](2) == Seq("ab", "bc", "cd"))
    assert(row.getLong(3) == api.getLong(3))
    assert(row.getLong(4) == api.getLong(4) && row.getLong(3) != row.getLong(4))
    // non-literal size parameter is a plan-time error, not a silent default
    intercept[Exception] {
      spark.sql("SELECT graft_shingle_hashes('a b c', CAST(rand()*3 AS INT))").collect()
    }
  }

  test("SQL registration: wrong arity fails as a usage error, not an index crash") {
    GraftFunctions.register(spark)
    for (bad <- Seq(
        "SELECT graft_cosine_sim(array(CAST(1.0 AS FLOAT)))",
        "SELECT graft_l2sq_distances(array(1.0D))",
        "SELECT graft_minhash_sig('a b c', 3)",
        "SELECT graft_char_ngrams('ab')",
        "SELECT graft_simhash64('a', 'b')")) {
      // the registry may rewrap the AnalysisException; the contract is the
      // usage message, not the wrapper type
      val e = intercept[Exception] { spark.sql(bad).collect() }
      assert(e.getMessage.contains("argument"), s"$bad -> $e")
    }
  }

  test("L2SqDistances canonicalizes by centroid VALUES (Seq field, not arrays)") {
    // structurally identical calls must be equal expressions so Catalyst can
    // common-subexpression-eliminate them; Array fields would compare by ref
    val a = L2SqDistances(org.apache.spark.sql.catalyst.expressions.Literal
      .create(Seq(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)), Vector(Vector(0.0, 1.0)))
    val b = a.copy(centroids = Vector(Vector(0.0, 1.0)))
    assert(a == b && a.semanticEquals(b) && a.hashCode == b.hashCode)
    assert(a != a.copy(centroids = Vector(Vector(0.0, 2.0))))
  }

  test("GraftExtensions injects the functions into a fresh session") {
    val s2 = spark.newSession()
    // the injector's effect is equivalent to register(); exercise the class
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      // verification happens via the registry path below
    })
    GraftFunctions.register(s2)
    assert(s2.sql("SELECT graft_simhash64('x y z')").collect()(0).getLong(0) != 0L)
  }

  test("codegen path: expression works inside whole-stage codegen over a table") {
    val n = Tables.documents(spark, sf0001)
      .select(DedupOps.simhash($"text").as("sh"))
      .filter($"sh" =!= 0L)
      .count()
    assert(n > 0)
  }

  test("NfcNormalize composes decomposed sequences; already-NFC text is unchanged") {
    val rows = Seq(
      "café",         // e + combining acute -> é
      "Äpfel",        // A + combining diaeresis -> Ä
      "café",          // already composed: quick-check fast path
      "plain ascii").toDF("t")
      .select(GraftFunctions.nfc($"t").as("n")).as[String].collect()
    assert(rows(0) == "café")
    assert(rows(1) == "Äpfel")
    assert(rows(2) == "café")
    assert(rows(3) == "plain ascii")
  }

  test("graft_nfc is registered for SQL; null passes through; non-string is a usage error") {
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT graft_nfc('café')").as[String].collect()(0) == "café")
    val nulls = Seq[Option[String]](None).toDF("t")
      .select(GraftFunctions.nfc($"t")).collect()
    assert(nulls(0).isNullAt(0))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_nfc(1)").collect()
    }
    assert(err.getMessage.contains("string"))
  }

  test("ContentExtract keeps dense long lines, drops chrome; counts are exact") {
    val page = Seq(
      "Home | About | Contact",                       // 22 chars: too short
      "This is a long enough prose line with plenty of letters.", // kept
      "| | ---------------------------------- | |",   // long but 0% alnum
      "",                                             // empty
      "Another substantial body sentence that clears both thresholds.") // kept
      .mkString("\n")
    val r = Seq(page).toDF("t")
      .select(GraftFunctions.extractContent($"t", 32, 50).as("x"))
      .select($"x.content", $"x.n_kept", $"x.n_total")
      .collect()(0)
    assert(r.getString(0) ==
      "This is a long enough prose line with plenty of letters.\n" +
        "Another substantial body sentence that clears both thresholds.")
    assert(r.getLong(1) == 2L && r.getLong(2) == 5L)
  }

  test("ContentExtract edges: null in, null out; minLen 0 keeps empty lines; astral chars count once") {
    val nulls = Seq[Option[String]](None).toDF("t")
      .select(GraftFunctions.extractContent($"t", 32, 50)).collect()
    assert(nulls(0).isNullAt(0))
    // minLen=0, pct=0: everything survives, round-trips exactly
    val loose = Seq("a\n\nb").toDF("t")
      .select(GraftFunctions.extractContent($"t", 0, 0).as("x"))
      .select($"x.content", $"x.n_kept").collect()(0)
    assert(loose.getString(0) == "a\n\nb" && loose.getLong(1) == 3L)
    // U+1F600 is 2 UTF-16 units but ONE character: a 31-codepoint line with
    // an emoji must still fail a 32-char floor (codepoints, not chars)
    val astral = ("x" * 30) + "😀"
    val got = Seq(astral).toDF("t")
      .select(GraftFunctions.extractContent($"t", 32, 50).as("x"))
      .select($"x.n_kept").collect()(0).getLong(0)
    assert(got == 0L)
  }

  test("ContentExtract is script-agnostic: CJK/Cyrillic/Arabic prose survives, chrome dies in any script") {
    // non-Latin prose has ~0% ASCII alphanumerics — an ASCII density test
    // at 50% would delete all three body lines wholesale
    val cjk = "这是一段足够长的中文正文内容，其中包含许多汉字，用来验证提取器不会删除整页中文。"
    val cyr = "Это достаточно длинная строка русской прозы для проверки плотности букв."
    val ar = "هذا سطر نثري طويل بما يكفي باللغة العربية لاختبار كثافة الحروف في الصفحة."
    val dashRule = "— — — — — — — — — — — — — — — — — — — — — — — — — — — — — — — —"
    val page = Seq("Home | About | Contact", cjk, cyr, ar, dashRule).mkString("\n")
    val r = Seq(page).toDF("t")
      .select(GraftFunctions.extractContent($"t", 32, 50).as("x"))
      .select($"x.content", $"x.n_kept", $"x.n_total").collect()(0)
    assert(r.getString(0) == Seq(cjk, cyr, ar).mkString("\n"), r.getString(0))
    // the 63-codepoint dash rule clears the length floor but dies on
    // density: punctuation is never letter-or-digit in any script
    assert(r.getLong(1) == 3L && r.getLong(2) == 5L)
  }

  test("ContentExtract keepBlank mode: paragraph separators survive, blank runs collapse, edges trim") {
    val p1 = "a first paragraph of honest prose long enough to clear the bar"
    val p2 = "a second paragraph of honest prose long enough to clear the bar too"
    val page = s"Nav | Nav | Nav\n\n$p1\n\n\n\n$p2\n\n(c) footer\n"
    val r = Seq(page).toDF("t")
      .select(GraftFunctions.extractContent($"t", 32, 50, keepBlank = true).as("x"))
      .select($"x.content", $"x.n_kept").collect()(0)
    // nav and footer die; the blank RUN between paragraphs collapses to one
    // separator; the trailing blank (after the dropped footer) vanishes
    assert(r.getString(0) == s"$p1\n\n$p2", r.getString(0))
    assert(r.getLong(1) == 2L)
    // SQL arity-4 form selects the same mode
    GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_extract_content('x\n\n" + p1 + "', 32, 50, 1) AS x")
      .select($"x.content").as[String].collect()(0)
    assert(viaSql == p1)
  }

  test("graft_extract_content registered for SQL; boundary ratio is exact integer math") {
    GraftFunctions.register(spark)
    // 16 alnum of 32 chars = exactly 50%: cross-multiplied >= keeps it
    val half = ("ab" * 8) + ("- " * 8)
    val row = spark.sql(
      s"SELECT graft_extract_content('$half', 32, 50) AS x")
      .select($"x.n_kept").as[Long].collect()(0)
    assert(row == 1L)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_extract_content('x', 32, 101)").collect()
    }
    assert(err.getMessage.contains("minAlnumPct") || err.getMessage.contains("[0,100]"))
  }

  test("SigMatchCount matches the HOF zip_with formulation; length mismatch throws; SQL-registered") {
    val docs = Tables.documents(spark, sf0001).limit(80)
    val sigs = docs.select(
      GraftFunctions.minhashSig($"text", 3, 32).as("a"),
      GraftFunctions.minhashSig(concat($"text", lit(" tail tokens here")), 3, 32).as("b"))
    val mismatches = sigs.select(
        GraftFunctions.sigMatchCount($"a", $"b").as("native"),
        aggregate(zip_with($"a", $"b", (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(mismatches == 0)
    val err = intercept[Exception] {
      Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
        .select(GraftFunctions.sigMatchCount($"a", $"b")).collect()
    }
    assert(err.getMessage.contains("equal-length") || err.getCause != null)
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT graft_sig_match_count(array(1L,2L,3L), array(1L,9L,3L))")
      .as[Int].collect()(0) == 2)
  }

  test("MatVec expression matches the HOF construction bit-for-bit; dim mismatch is loud") {
    val rows: Vector[Vector[Double]] = Vector(
      Vector(0.5, -0.25, 1.0, 0.125), Vector(-1.0, 0.75, 0.0, 2.0),
      Vector(0.0, 0.0, -0.5, 0.25), Vector(1.5, 1.0, -1.0, 0.5))
    val df = (1 to 64).map(i =>
      Seq(i * 0.1f, -i * 0.3f, i * 0.7f, 1.0f / i)).toDF("v")
    val mismatches = df.select(
        GraftFunctions.matVec($"v", rows).as("native"),
        array(rows.map(r =>
          aggregate(zip_with($"v", array(r.map(lit): _*),
            (x, w) => x.cast("double") * w), lit(0.0), (a, x) => a + x)): _*)
          .as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(mismatches == 0)
    val err = intercept[Exception] {
      Seq(Seq(1.0, 2.0)).toDF("v")
        .select(GraftFunctions.matVec($"v", rows)).collect()
    }
    assert(err.getMessage.contains("graft_matvec") || err.getCause != null)
  }

  test("normalizeText: NFC + control/format strip + whitespace collapse, golden") {
    // "hea"+COMBINING ACUTE -> composes; ZWSP and BEL strip; VT strips
    // (word fuses); tab and double spaces collapse; ends trim
    val raw = "  hea\u0301vy\u200B  text\u0007\twith\u000Bjunk  "
    val got = Seq(raw).toDF("t")
      .select(graft.operators.TextAnalysis.normalizeText($"t")).as[String]
      .collect()(0)
    assert(got == "hea\u0301vy".replace("a\u0301", "\u00e1") + " text withjunk")
  }

  test("DeflateRatio: repetition compresses, junk does not; column path " +
      "matches a driver-side Deflater bit-for-bit; null and SQL forms work") {
    GraftFunctions.register(spark)
    val repetitive = ("lorem ipsum " * 80).trim
    // pseudo-random digit soup -- no repeats for the window to exploit
    val junk = (1 to 400).map(i => ((i * 2654435761L) % 97).toString).mkString("")
    val rows = Seq(repetitive, junk).toDF("t")
      .select(GraftFunctions.deflateRatio($"t").as("r")).as[Double].collect()
    assert(rows(0) < 0.1, s"repetitive text should crush: ${rows(0)}")
    assert(rows(1) > rows(0) * 3, s"junk must separate: ${rows.toSeq}")
    assert(rows.forall(r => r > 0.0 && r <= 1.1), rows.toSeq.toString)
    // bit-parity with an independent driver-side Deflater at the same level
    def driverRatio(text: String, level: Int): Double = {
      val raw = text.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(level, true)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](8192)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end()
      n.toDouble / raw.length
    }
    assert(rows(0) == driverRatio(repetitive, 6))
    assert(rows(1) == driverRatio(junk, 6))
    // the level argument is honored
    val l1 = Seq(repetitive).toDF("t")
      .select(GraftFunctions.deflateRatio($"t", level = 1)).as[Double].collect()(0)
    assert(l1 == driverRatio(repetitive, 1))
    // null passes through; SQL registration with and without the level arg
    assert(Seq[Option[String]](None).toDF("t")
      .select(GraftFunctions.deflateRatio($"t")).collect()(0).isNullAt(0))
    assert(spark.sql("SELECT graft_deflate_ratio('aaaaaaaaaaaaaaaaaaaa')")
      .as[Double].collect()(0) == driverRatio("aaaaaaaaaaaaaaaaaaaa", 6))
    assert(spark.sql("SELECT graft_deflate_ratio('aaaaaaaaaaaaaaaaaaaa', 1)")
      .as[Double].collect()(0) == driverRatio("aaaaaaaaaaaaaaaaaaaa", 1))
    // empty text is 1.0 by definition (nothing to judge)
    assert(spark.sql("SELECT graft_deflate_ratio('')")
      .as[Double].collect()(0) == 1.0)
  }

  test("lower matches Spark's lower on ASCII, special casings, invalid UTF-8 and null") {
    val samples = Seq("Plain ASCII 123", "HTTP://Example.ORG/Path", "İstanbul IĞDIR",
      "ΟΔΟΣ ΣΟΦΟΣ", "STRAẞE ẞ", "Ǆemal ǅ", "ÉCOLE Ω", "", null)
    val invalid = lit(Array[Byte](0x41, 0xC3.toByte, 0x28, 0xFF.toByte, 0x5A)).cast("string")
    val text = Seq(samples: _*).toDF("s").select($"s")
      .unionByName(spark.range(1).select(invalid.as("s")))
      .unionByName(Tables.documents(spark, sf0001).select(upper($"text").as("s")).limit(50))
    // interpreted over a local relation, then codegen'd over a checkpoint
    for (df <- Seq(text, text.localCheckpoint())) {
      val rows = df.select(GraftFunctions.lower($"s").as("graft"), lower($"s").as("spark"))
        .collect()
      assert(rows.length == samples.size + 51)
      rows.foreach(r => assert(r.getString(0) == r.getString(1), r))
    }
  }
}
