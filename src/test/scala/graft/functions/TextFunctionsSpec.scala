package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextFunctionsSpec extends SparkSpec {

  private def doc(t: String) = df("text STRING", Row(t))

  test("nTokens: whitespace tokenization") {
    val d = doc("  the quick\tbrown\n fox ")
    assert(d.select(TextFunctions.nTokens(col("text")))
      .collect()(0).getInt(0) == 4)
  }

  test("nTokensBpeIsh counts subword-ish pieces >= words") {
    val d = doc("hello, world! it's 2024")
    val n = d.select(TextFunctions.nTokensBpeIsh(col("text")))
      .collect()(0).getInt(0)
    assert(n >= 4)
  }

  test("avgTokenLen") {
    val d = doc("ab cdef") // 6 non-space chars / 2 tokens = 3
    val v = d.select(TextFunctions.avgTokenLen(col("text")))
      .collect()(0).getDouble(0)
    assertApprox(v, 3.0)
  }

  test("stopwordRatio counts occurrences not distinct") {
    val d = doc("the cat the dog") // 2 stopword hits / 4 tokens
    val v = d.select(TextFunctions.stopwordRatio(col("text")))
      .collect()(0).getDouble(0)
    assertApprox(v, 0.5)
  }

  test("punct and upper ratios") {
    val d = doc("AB, cd!") // punct: , and ! => 2/7 ; upper: A,B => 2/7
    val r = d.select(TextFunctions.punctRatio(col("text")),
      TextFunctions.upperRatio(col("text"))).collect()(0)
    assertApprox(r.getDouble(0), 2.0 / 7.0)
    assertApprox(r.getDouble(1), 2.0 / 7.0)
  }

  test("redact: global word-boundary replacement + audit count") {
    import org.apache.spark.sql.Row
    val d = df("t STRING",
      Row("email me at bob@x.io or ann@y.org thanks"),
      Row("no addresses here"),
      Row(null))
    val pat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val out = d.select(
        TextFunctions.redact(col("t"), pat, "<EMAIL>").as("r"),
        TextFunctions.matchCount(col("t"), pat).as("n"))
      .collect()
    assert(out(0).getString(0) == "email me at <EMAIL> or <EMAIL> thanks")
    assert(out(0).getInt(1) == 2)
    assert(out(1).getString(0) == "no addresses here")
    assert(out(1).getInt(1) == 0)
    assert(out(2).isNullAt(0))
  }

  test("qualityScore: prose scores higher than spam") {
    val prose = "The quick brown fox jumps over the lazy dog and then " +
      "it runs to the river where the water is cold and clear in the morning"
    val spam = "BUY NOW!!! CLICK!!! FREE!!! WIN!!! $$$ !!!"
    val d = df("id INT, text STRING", Row(1, prose), Row(2, spam))
    val out = d.select(col("id"), TextFunctions.qualityScore(col("text")))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(out(1) > out(2))
    assert(out(1) >= 0.0 && out(1) <= 1.0 && out(2) >= 0.0 && out(2) <= 1.0)
  }

  test("bowFingerprint: order and duplicate insensitive") {
    val d = df("id INT, text STRING",
      Row(1, "alpha beta gamma"), Row(2, "gamma alpha beta alpha"),
      Row(3, "alpha beta delta"))
    val fps = d.select(col("id"), TextFunctions.bowFingerprint(col("text")))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(fps(1) == fps(2))
    assert(fps(1) != fps(3))
  }

  test("seqFingerprint: order sensitive") {
    val d = df("id INT, text STRING",
      Row(1, "alpha beta"), Row(2, "beta alpha"), Row(3, "alpha beta"),
      Row(4, ""), Row(5, null))
    val fps = d.select(col("id"), TextFunctions.seqFingerprint(col("text")))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(fps(1) == fps(3) && fps(1) != fps(2))
    // every value inside mix31's 31-bit range; null text -> null
    assert(fps(4).isDefined, "empty text folds the [''] token")
    assert(fps(5).isEmpty)
    fps.values.flatten.foreach(v =>
      assert(v >= 0L && v < (1L << 31), s"out of range: $v"))
  }

  test("nTokensBpeIsh closed form == historical lookahead split on BMP " +
    "text; non-BMP code points count once (not per surrogate half)") {
    val bmp = Seq("hello, world! it's 2024", "ab,,cd", ", a", "a  ,b",
      "café au lait", "", "   ", "a", "...", "x1y2", "a-b_c",
      "tab\there", "line\nbreak", "1,234.56", "(a)[b]{c}", "a,", ",a,",
      "über café", "vx")
    val d = df("id INT, text STRING",
      bmp.zipWithIndex.map { case (t, i) => Row(i, t) }: _*)
    val both = d.select(col("id"),
        TextFunctions.nTokensBpeIsh(col("text")),
        TextFunctions.nTokensBpeIshLookahead(col("text")))
      .collect()
    both.foreach(r => assert(r.getInt(1) == r.getInt(2),
      s"faces diverge on ${bmp(r.getInt(0))}: " +
        s"closed=${r.getInt(1)} lookahead=${r.getInt(2)}"))
    // non-BMP: one emoji = one piece under the closed form; the Java
    // lookahead split saw two surrogate halves (the historical bug)
    val emoji = df("text STRING", Row("emoji 😀 end"))
    val Array(r) = emoji.select(
      TextFunctions.nTokensBpeIsh(col("text")),
      TextFunctions.nTokensBpeIshLookahead(col("text"))).collect()
    assert(r.getInt(0) == 3 && r.getInt(1) == 4)
  }

  test("langId on real-language snippets") {
    val d = df("id INT, text STRING",
      Row(1, "The history of the region is marked by the rise and fall " +
        "of empires that shaped the culture for centuries."),
      Row(2, "Der schnelle braune Fuchs springt über den faulen Hund und " +
        "das ist nicht ungewöhnlich für die Jahreszeit."),
      Row(3, "Le développement économique de la région est soutenu par " +
        "une politique qui est adaptée et des investissements."),
      Row(4, "El desarrollo de la región es el resultado de una política " +
        "que fue adoptada por los gobiernos y las instituciones."),
      Row(5, "这是一个简单的中文测试文本，用来验证语言识别功能是否正常工作。"),
      Row(6, "Lo sviluppo della regione è il risultato di una politica " +
        "che il governo ha adottato per la crescita con gli investimenti."),
      Row(7, "O desenvolvimento da região não é uma questão simples, " +
        "é o resultado de uma política que foi adotada para a população."),
      Row(8, "Развитие региона является результатом политики, которую " +
        "приняли правительства и учреждения за последние годы."),
      Row(9, "この地域の発展は、政府が採用した政策の結果であり、" +
        "ここ数年のさまざまな投資によって支えられています。"))
    val out = d.select(col("id"), TextFunctions.langId(col("text")))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(1) == "en", s"got ${out(1)}")
    assert(out(2) == "de", s"got ${out(2)}")
    assert(out(3) == "fr", s"got ${out(3)}")
    assert(out(4) == "es", s"got ${out(4)}")
    assert(out(5) == "zh", s"got ${out(5)}")
    assert(out(6) == "it", s"got ${out(6)}")
    assert(out(7) == "pt", s"got ${out(7)}")
    assert(out(8) == "ru", s"got ${out(8)}")
    assert(out(9) == "ja", s"got ${out(9)}")
  }

  test("langId single-pass alternation vs per-marker multi-pass reference: " +
    "identical on the snippet corpus, <=1% divergence on sf0.001 docs") {
    val snippets = df("id INT, text STRING",
      (1 to 9).map(i => Row(i, s"filler $i")) :+
        Row(10, "Der Hund und und die Katze und der Vogel sind nicht da") :+
        Row(11, "le la les des est une et qu le la") :+
        Row(12, "plain text with no markers at all??") :+
        Row(13, ""): _*)
    // both variants fused in one projection — this is ALSO the codegen
    // tripwire for the argmax shape: the historical when/otherwise fold
    // blew the Janino budget right here (and, silently, in production
    // q_lang_id) until the array_max rewrite; fallback is disabled, so
    // a regression fails loudly
    val snapDiff = snippets.select(
        TextFunctions.langId(col("text")).as("fast"),
        TextFunctions.langIdMultiPass(col("text")).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(snapDiff == 0, s"$snapDiff snippet rows diverge")
    // real-corpus drift bound: divergence only on boundary-overlap cases
    // (see next assertion), observed 1/500 at sf0.001
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val docDiff = docs.select(
        TextFunctions.langId(col("text")).as("fast"),
        TextFunctions.langIdMultiPass(col("text")).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    val total = docs.count()
    assert(docDiff.toDouble / total <= 0.01,
      s"$docDiff/$total rows diverge from the multi-pass reference")
  }

  test("langId lookahead counts adjacent repeated markers the consuming " +
    "multi-pass form under-counts (' the the ' boundary space)") {
    // keyword soup: 3x 'the the' + 3x 'query' (-> ' qu' hits for fr). The
    // consuming form eats the shared boundary space inside each 'the the'
    // (en=3, tying fr's 3, and the earlier-listed fr wins) — a
    // misclassification the zero-width lookahead form avoids (en=6 > 3).
    val d = df("id INT, text STRING",
      Row(1, "query the the query the the query the the end"))
    val out = d.select(TextFunctions.langId(col("text")).as("fast"),
      TextFunctions.langIdMultiPass(col("text")).as("ref")).collect()(0)
    assert(out.getString(0) == "en")
    assert(out.getString(1) == "fr") // the reference form's known flaw
  }

  test("ngramsAll keeps duplicates in order; short docs empty") {
    val d = df("id INT, text STRING",
      Row(1, "a b a b a"), Row(2, "only one"), Row(3, null))
    val got = d.select(col("id"),
        TextFunctions.ngramsAll(col("text"), 2).as("g")).collect()
      .map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(got(1) == Seq("a b", "b a", "a b", "b a"))
    assert(got(2) == Seq("only one"))
    assert(got(3).isEmpty) // null doc -> empty, same contract as shingles
  }

  test("dupTokenFrac: hand values") {
    val d = df("id INT, text STRING",
      Row(1, "a a a a"), Row(2, "a b c d"), Row(3, "a b a b"))
    val got = d.select(col("id"),
        TextFunctions.dupTokenFrac(col("text"))).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(approx(got(1), 0.75) && approx(got(2), 0.0) &&
      approx(got(3), 0.5))
  }

  test("topNgramCharFrac: most frequent 2-gram, overlaps counted") {
    // "a b a b a": 2-grams = [a b, b a, a b, b a]; top count 2, len 3,
    // doc chars 9 -> 2*3/9
    val d = df("id INT, text STRING", Row(1, "a b a b a"))
    val got = d.select(
      TextFunctions.topNgramCharFrac(col("text"), 2)).collect()(0)
      .getDouble(0)
    assert(approx(got, 6.0 / 9.0))
  }

  test("topNgramCharFrac: 0.0 for docs shorter than n") {
    val d = df("id INT, text STRING", Row(1, "solo"))
    val got = d.select(
      TextFunctions.topNgramCharFrac(col("text"), 2)).collect()(0)
      .getDouble(0)
    assert(got == 0.0)
  }

  test("dupNgramCharFrac: only grams repeated >= 2 contribute") {
    // "x y x y z": 2-grams [x y, y x, x y, y z]; repeated: "x y" (2x,
    // len 3) -> 6; "y x"/"y z" single -> 0. doc chars 9 -> 6/9
    val d = df("id INT, text STRING", Row(1, "x y x y z"))
    val got = d.select(
      TextFunctions.dupNgramCharFrac(col("text"), 2)).collect()(0)
      .getDouble(0)
    assert(approx(got, 6.0 / 9.0))
    // no repeats at all -> 0.0
    val d2 = df("id INT, text STRING", Row(1, "p q r s"))
    val got2 = d2.select(
      TextFunctions.dupNgramCharFrac(col("text"), 2)).collect()(0)
      .getDouble(0)
    assert(got2 == 0.0)
  }

  private def c4Of(t: String): (Boolean, Boolean, Boolean, Boolean) = {
    val r = doc(t).select(TextFunctions.c4Flags(col("text")).as("f"))
      .select("f.*").collect()(0)
    (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))
  }

  test("c4Flags: each rule trips independently; keep is the conjunction") {
    assert(c4Of("One. Two! Three? And more.") == ((true, true, true, true)))
    assert(c4Of("no punctuation here at all") ==
      ((false, true, true, false)))
    assert(c4Of("Lorem Ipsum dolor. Sit! Amet?") ==
      ((true, false, true, false)))
    assert(c4Of("code. block! here? { x = 1 }") ==
      ((true, true, false, false)))
  }

  private def gopherOf(t: String, minWords: Int = 3)
      : Map[String, Boolean] = {
    val r = doc(t).select(
        TextFunctions.gopherQualityFlags(col("text"), minWords).as("f"))
      .select("f.*")
    r.collect()(0).getValuesMap[Boolean](r.columns)
  }

  test("gopherQualityFlags: each document-level rule trips " +
    "independently") {
    val good = "the cat and the dog sat with all of that stuff"
    assert(gopherOf(good)("keep"))
    assert(!gopherOf("the cat", minWords = 3)("word_count_ok"))
    // mean word length < 3
    assert(!gopherOf("it is a an to of in at by we")("mean_len_ok"))
    // symbol-to-word ratio: 2 hashes + 1 ellipsis over 9 words > 0.1
    assert(!gopherOf("the cat and # dog # sat there... with")("symbol_ok"))
    // < 80% alphabetic words
    assert(!gopherOf("the 123 456 789 000 111 cat and that")("alpha_ok"))
    // fewer than 2 distinct stopwords
    assert(!gopherOf("cats dogs birds fish mice run")("stops_ok"))
  }

  // ---- charEntropy ----

  private def entropyOf(t: String): Double =
    doc(t).select(TextFunctions.charEntropy(col("text")))
      .collect()(0).getDouble(0)

  private def referenceEntropy(t: String): Double = {
    val cs = t.toCharArray.filter(_ => true).map(_.toString)
    val n = cs.length.toDouble
    val st = cs.groupBy(identity).values
      .map(g => g.length.toDouble * math.log(g.length)).sum
    math.log(n) - st / n
  }

  test("charEntropy matches a driver-side count-identity reference") {
    for (t <- Seq("aabbcc", "hello world", "abcabcabcx",
        "the quick brown fox")) {
      assert(approx(entropyOf(t), referenceEntropy(t), 1e-9), t)
    }
  }

  test("charEntropy: single-char repetition is 0, uniform k-symbol " +
    "text is ln k, empty and NULL are 0") {
    // ln n - (k·ln k)/n leaves ~1 ulp residue even for a single run
    assert(approx(entropyOf("aaaaaa"), 0.0, 1e-12))
    assert(approx(entropyOf("abcd"), math.log(4.0), 1e-12))
    assert(entropyOf("") == 0.0)
    assert(df("text STRING", Row(null))
      .select(TextFunctions.charEntropy(col("text")))
      .collect()(0).getDouble(0) == 0.0)
  }

  test("charEntropy: non-ASCII chars count as distinct symbols") {
    // 2 distinct cyrillic chars, uniform -> ln 2
    assert(approx(entropyOf("дадада".filter(_ != 'а') + "ддд"), 0.0, 1e-12))
    assert(approx(entropyOf("дя"), math.log(2.0), 1e-12))
  }
}
