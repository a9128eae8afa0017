package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) =
    df("doc_id BIGINT, text STRING", rows.map(r => Row(r._1, r._2)): _*)

  test("exact dedup keeps smallest id per identical text") {
    val d = docs(1L -> "hello world", 2L -> "hello world", 3L -> "unique")
    val kept = Dedup.exact(d, "text", "doc_id").collect().map(_.getLong(0))
    assert(kept.sorted.sameElements(Array(1L, 3L)))
  }

  test("exactGroups reports copies and canonical id") {
    val d = docs(5L -> "a b", 2L -> "a b", 9L -> "c")
    val out = Dedup.exactGroups(d, "text", "doc_id").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(2L -> 2L, 1L -> 9L)) // (n_copies -> keep_id)
  }

  test("shingles: 3-gram set of tokens, distinct, lowercase") {
    val d = docs(1L -> "The quick brown fox jumps")
    val sh = d.select(Dedup.shingles(col("text"), 3)).collect()(0)
      .getSeq[String](0).toSet
    assert(sh == Set("the quick brown", "quick brown fox", "brown fox jumps"))
  }

  test("shingles shorter than n yields empty set") {
    val d = docs(1L -> "only two")
    val sh = d.select(Dedup.shingles(col("text"), 3)).collect()(0)
      .getSeq[String](0)
    assert(sh.isEmpty)
  }

  test("jaccardPairs hand-computed") {
    // doc1: shingles {a b c, b c d}  doc2: {a b c, b c e} -> inter 1, union 3
    val d = docs(1L -> "a b c d", 2L -> "a b c e", 3L -> "x y z w")
    val out = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 1)
    assertApprox(out((1L, 2L)), 1.0 / 3.0)
  }

  test("containmentPairs: directed — the short doc is contained in the " +
    "long one, not vice versa") {
    // doc1's 3 shingles all appear in doc2 (c(1,2) = 1); doc2 has 7
    // shingles of which 3 are shared (c(2,1) = 3/7 < 0.7)
    val d = docs(1L -> "a b c d e",
      2L -> "a b c d e f g h i",
      3L -> "totally unrelated words here")
    val out = Dedup.containmentPairs(d, "doc_id", "text", 3, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set((1L, 2L)))
    assertApprox(out((1L, 2L)), 1.0)
  }

  test("containmentPairs: identical docs contain each other (both " +
    "directions, containment 1)") {
    val d = docs(1L -> "one two three four five",
      2L -> "one two three four five")
    val out = Dedup.containmentPairs(d, "doc_id", "text", 3, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set((1L, 2L), (2L, 1L)))
    assertApprox(out((1L, 2L)), 1.0)
    assertApprox(out((2L, 1L)), 1.0)
  }

  test("containmentPairs == naive all-pairs containment (differential)") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    def doc(seed: Int, len: Int): String =
      (0 until len).map(i => vocab((seed * 13 + i * 5) % vocab.size))
        .mkString(" ")
    val rows = (0 until 20).map(i =>
      i.toLong -> doc(i % 6, 8 + (i % 9))) // overlapping shingle sets
    val d = docs(rows: _*)
    val t = 0.5
    val got = Dedup.containmentPairs(d, "doc_id", "text", 3, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // driver-side reference
    def shingleSet(s: String): Set[String] = {
      val toks = s.toLowerCase.trim.split("\\s+").toVector
      if (toks.size < 3) Set.empty
      else (0 to toks.size - 3).map(i =>
        toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val sets = rows.map { case (id, s) => id -> shingleSet(s) }
    val expect = (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia != ib && sa.nonEmpty &&
        sa.intersect(sb).size.toDouble / sa.size >= t
    } yield (ia, ib)).toSet
    assert(got == expect)
  }

  test("jaccardPairs == naive all-pairs join at several thresholds " +
    "(positional-filter differential, skewed random corpus)") {
    // small vocab + geometric lengths force heavy shingle sharing and a
    // skewed document-frequency profile, so the prefix AND positional
    // filters both fire; planted near-dup pairs pin the keep side
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu",
      "hen", "ibis", "jay")
    def doc(seed: Int, len: Int): String =
      (0 until len).map(i =>
        vocab((seed * 7 + i * (1 + seed % 3)) % vocab.size)).mkString(" ")
    val base = (0 until 40).map(i => i.toLong -> doc(i % 11, 5 + i % 14))
    // planted near-dups: a copy with one word swapped
    val dups = (0 until 6).map { i =>
      val (_, t) = base(i * 5)
      (100L + i) -> (t.split(" ").dropRight(1).mkString(" ") + " newt")
    }
    val rows = base ++ dups
    val d = docs(rows: _*)
    def shingleSet(s: String): Set[String] = {
      val toks = s.toLowerCase.trim.split("\\s+").toVector
      if (toks.size < 3) Set.empty
      else (0 to toks.size - 3).map(i =>
        toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val sets = rows.map { case (id, s) => id -> shingleSet(s) }
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.jaccardPairs(d, "doc_id", "text", 3, t).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val expect = (for {
        (ia, sa) <- sets; (ib, sb) <- sets
        if ia < ib && sa.nonEmpty && sb.nonEmpty
        inter = sa.intersect(sb).size.toDouble
        j = inter / (sa.size + sb.size - inter)
        if j >= t
      } yield (ia, ib) -> j).toMap
      assert(got.keySet == expect.keySet,
        s"t=$t missing=${expect.keySet -- got.keySet} " +
          s"extra=${got.keySet -- expect.keySet}")
      expect.foreach { case (k, j) => assertApprox(got(k), j) }
    }
  }

  test("identical docs have identical minhash signatures; sig length k") {
    val d = docs(1L -> "one two three four five six",
      2L -> "one two three four five six", 3L -> "totally different words here")
    val sigs = d.select(col("doc_id"),
        Dedup.minHashSignature(col("text"), n = 3, k = 16))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L).length == 16)
    assert(sigs(1L) != sigs(3L))
  }

  test("minHashLshPairs finds identical docs with est_jaccard 1") {
    val d = docs(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "unrelated content entirely different words")
    val out = Dedup.minHashLshPairs(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.contains((1L, 2L)))
    assertApprox(out((1L, 2L)), 1.0)
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L)))
  }

  test("jaccardCandidates: rarity-order prefix beats hash order on a " +
    "skewed corpus (fewer candidates), and pair results are unchanged") {
    // every doc shares one viral shingle; all other shingles are unique,
    // so a rarity-ordered prefix excludes the hot one and generates ZERO
    // candidates, while hash order lets it into ~2/3 of prefixes
    val rows = (1L to 40L).map(i =>
      i -> s"common hot shingle u$i v$i w$i x$i y$i")
    val d = docs(rows: _*)
    val sh = d.select(col("doc_id").as("id"),
        Dedup.shingles(col("text"), 3).as("sh"))
      .withColumn("sh_size", size(col("sh")))
      .filter(col("sh_size") > 0)
    val rare = Dedup.jaccardCandidates(sh, 0.5, Nil, rarityOrder = true)
      .count()
    val hash = Dedup.jaccardCandidates(sh, 0.5, Nil, rarityOrder = false)
      .count()
    assert(rare <= hash,
      s"rarity order produced MORE candidates ($rare > $hash)")
    assert(rare < hash,
      s"skewed fixture should separate the orders (rare=$rare hash=$hash)")
    // and the exact verification step keeps the final pairs identical:
    // no pair here clears Jaccard 0.5, whichever order generated it
    assert(Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.5).count() == 0L)
  }

  test("LSH degenerate guard: 1k empty docs yield ZERO empty-empty " +
    "candidates in both pair generators; real dups still found") {
    val empties = (1000L until 2000L).map(_ -> "")
    val real = Seq(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "unrelated content entirely different words")
    val d = docs(real ++ empties: _*)
    // minhash: all-null signatures are filtered before banding, so the
    // empties never reach the bucket self-join at ANY cap
    val mh = Dedup.minHashLshPairs(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.contains((1L, 2L)), "real dup pair lost")
    assert(!mh.exists(p => p._1 >= 1000L && p._2 >= 1000L),
      s"empty-empty candidates leaked: ${mh.count(p => p._1 >= 1000L)}")
    // simhash: empties all fingerprint to 0 -> one viral bucket per
    // chunk; the bucket cap must drop them without losing the real pair
    val sh = Dedup.simHashPairs(d, "doc_id", "text", maxDist = 3,
        maxBucket = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sh.contains((1L, 2L)), "real dup pair lost to the bucket cap")
    assert(!sh.exists(p => p._1 >= 1000L && p._2 >= 1000L),
      "viral empty bucket survived the cap")
  }

  test("bucket cap drops a viral identical-doc clique, keeps distinct " +
    "near-dup pairs; default cap leaves small corpora byte-identical") {
    val viral = (100L until 150L).map(_ -> "same boilerplate text here now")
    val d = docs(Seq(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta") ++ viral: _*)
    val capped = Dedup.minHashLshPairs(d, "doc_id", "text", maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.contains((1L, 2L)))
    assert(!capped.exists(p => p._1 >= 100L),
      "50-doc viral clique should be dropped at maxBucket=10")
    // with the default cap nothing triggers: the full pair set is intact
    val full = Dedup.minHashLshPairs(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(full.count(p => p._1 >= 100L && p._2 >= 100L) == 50 * 49 / 2)
  }

  test("band keys are the band's slot values: two bands a base-1000003 " +
    "fold would collide never share a bucket") {
    // band 0 of `a` is (0,0,1,0), of `b` (0,0,0,1000003): folding each
    // band as a*1000003+v mod 2^31 maps both to 1000003, so a hashed
    // bucket pairs them; band 1 differs everywhere. `c` agrees with `a`
    // on band 0 exactly, the one pair banding must find.
    val sigs = df("id BIGINT, sig ARRAY<BIGINT>",
      Row(1L, Seq(0L, 0L, 1L, 0L, 1L, 2L, 3L, 4L)),
      Row(2L, Seq(0L, 0L, 0L, 1000003L, 5L, 6L, 7L, 8L)),
      Row(3L, Seq(0L, 0L, 1L, 0L, 9L, 10L, 11L, 12L)))
    val self = Dedup.minHashLshPairsFromSigs(sigs, bands = 2,
        rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(self == Set((1L, 3L)), s"self-join pairs: $self")
    val cross = IncrementalDedup.nearDupAgainst(
        sigs.filter(col("id") === 2L || col("id") === 3L),
        sigs.filter(col("id") === 1L), bands = 2, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross == Set((3L, 1L)), s"cross-frame pairs: $cross")
  }

  test("native signature kernels == interpreted HOF twins bit-for-bit " +
    "(incl. empty, single-token, punctuation, and null docs)") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "", 4L -> "one",
      5L -> "punct! marks? and, spacing   tabs\tnewlines",
      6L -> null,
      7L -> ("repeated tokens " * 40),
      8L -> "café naïve 中文 words mixed in here")
    val sim = d.select(col("doc_id"), Dedup.simHash64(col("text")).as("n"),
        Dedup.simHash64Hof(col("text")).as("h"))
      .collect()
    sim.foreach(r => assert(r.get(1) == r.get(2),
      s"simhash mismatch for doc ${r.getLong(0)}: ${r.get(1)} vs ${r.get(2)}"))
    val mh = d.select(col("doc_id"),
        Dedup.minHashSignature(col("text"), n = 3, k = 16).as("n"),
        Dedup.minHashSignatureHof(col("text"), n = 3, k = 16).as("h"))
      .collect()
    mh.foreach(r => assert(r.get(1) == r.get(2),
      s"minhash mismatch for doc ${r.getLong(0)}: ${r.get(1)} vs ${r.get(2)}"))
    val sh = d.select(col("doc_id"),
        Dedup.shingles(col("text"), 3).as("n"),
        Dedup.shinglesHof(col("text"), 3).as("h"))
      .collect()
    sh.foreach(r => assert(r.get(1) == r.get(2),
      s"shingles mismatch for doc ${r.getLong(0)}: ${r.get(1)} vs ${r.get(2)}"))
  }

  test("native kernels == HOF twins on a 200-doc seeded random corpus") {
    val rng = new scala.util.Random(1234)
    val words = Vector("alpha", "beta", "Gamma", "DELTA", "e5", "zeta!",
      "eta", "theta,", "iota", "k", "lambda", "mu-nu", "", "  ")
    val rows = (1 to 200).map { i =>
      val len = rng.nextInt(30)
      i.toLong -> Seq.fill(len)(words(rng.nextInt(words.size))).mkString(" ")
    }
    val d = docs(rows: _*)
    val out = d.select(col("doc_id"),
        Dedup.simHash64(col("text")).as("s_n"),
        Dedup.simHash64Hof(col("text")).as("s_h"),
        Dedup.shingles(col("text"), 2).as("g_n"),
        Dedup.shinglesHof(col("text"), 2).as("g_h"),
        Dedup.minHashSignature(col("text"), n = 2, k = 24).as("m_n"),
        Dedup.minHashSignatureHof(col("text"), n = 2, k = 24).as("m_h"))
      .collect()
    out.foreach { r =>
      assert(r.get(1) == r.get(2), s"simhash diverged for doc ${r.getLong(0)}")
      assert(r.get(3) == r.get(4), s"shingles diverged for doc ${r.getLong(0)}")
      assert(r.get(5) == r.get(6), s"minhash diverged for doc ${r.getLong(0)}")
    }
  }

  test("portable simhash: native kernel == mix31/stringKey31 Column " +
    "twin bit-for-bit; fingerprint stays within 62 bits; near-identical " +
    "docs pair at small Hamming via the portable pairs face") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(
      1L -> base, 2L -> base, 3L -> (base + " extra"),
      4L -> "", 5L -> null,
      6L -> "café naïve 中文 words mixed in here",
      7L -> ("repeated tokens " * 40))
    val out = d.select(col("doc_id"),
        Dedup.simHash64(col("text")).as("n"),
        Dedup.simHash64Hof(col("text")).as("h"))
      .collect()
    out.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"simhash diverged for doc ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert((r.getLong(1) >>> 62) == 0L,
          s"fingerprint exceeds 62 bits for doc ${r.getLong(0)}")
    }
    val pairs = Dedup.simHashPairs(d, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0),
      s"identical docs must pair at Hamming 0: ${pairs.mkString(", ")}")
  }

  test("simHash: identical texts equal, near-identical close in Hamming") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(1L -> base, 2L -> base,
      3L -> (base + " extra"), 4L -> "completely unrelated korean bbq menu")
    val sigs = d.select(col("doc_id"), Dedup.simHash64(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
  }

  test("hamming64 column matches bitCount") {
    val d = df("a BIGINT, b BIGINT", Row(0xFFL, 0x0FL), Row(5L, 5L))
    val out = d.select(Dedup.hamming64(col("a"), col("b")))
      .collect().map(_.getInt(0))
    assert(out.sameElements(Array(4, 0)))
  }

  test("simHashPairs blocks via chunk pigeonhole and bounds distance") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(1L -> base, 2L -> base, 3L -> "something else entirely now")
    val out = Dedup.simHashPairs(d, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(out.forall(_._3 <= 3))
  }

  test("simHashPairsFromSigs: full recall at maxDist=10 on adversarial " +
    "bit spreads (each flip in a different chunk)") {
    // sig_i flips i bits of the base, one per 6-bit chunk — the worst case
    // for pigeonhole blocking: a d-distance pair touches d distinct chunks.
    // (The round-1 4x16-bit layout drops every pair with distance in 4..10
    // on this pattern.)
    val baseSig = 0x0123456789ABCDEFL
    val flipPos = (0 until 13).map(k => 6 * k + 1) // one bit per chunk
    val sigRows = (0 to 13).map { i =>
      val sig = flipPos.take(i).foldLeft(baseSig)((s, p) => s ^ (1L << p))
      Row(i.toLong, sig)
    }
    val sigs = df("id BIGINT, sig BIGINT", sigRows: _*)
    val raw = sigs.collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, sa) <- raw; (ib, sb) <- raw
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 10
    } yield (ia, ib)).toSet
    val blocked = Dedup.simHashPairsFromSigs(sigs, maxDist = 10,
        allowWide = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pairs exist at every distance 1..13; 10 < 13 so some are excluded
    assert(brute.nonEmpty && brute != (for {
      (ia, _) <- raw; (ib, _) <- raw if ia < ib } yield (ia, ib)).toSet)
    assert(blocked == brute)
  }

  test("simHashPairs end-to-end recall == brute force at maxDist=10") {
    val words = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu").split(" ")
    val rows = (0 until 30).map { i =>
      val t = words.zipWithIndex.map { case (w, j) =>
        if (j % 9 == i % 9) w + (i % 5) else w
      }.mkString(" ")
      i.toLong -> t
    }
    val d = docs(rows: _*)
    val raw = d.select(col("doc_id"), Dedup.simHash64(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, sa) <- raw; (ib, sb) <- raw
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 10
    } yield (ia, ib)).toSet
    val blocked = Dedup.simHashPairs(d, "doc_id", "text", maxDist = 10,
        allowWide = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute)
  }

  test("simHashPairsFromSigs guards wide maxDist: d=10 (6-bit keys) " +
    "throws unless allowWide is set; d=7 (8-bit keys) passes") {
    val sigs = df("id BIGINT, sig BIGINT", Row(1L, 7L), Row(2L, 8L))
    val e = intercept[IllegalArgumentException] {
      Dedup.simHashPairsFromSigs(sigs, maxDist = 10)
    }
    assert(e.getMessage.contains("allowWide"))
    // boundary: 64/(7+1) = 8 bits is the narrowest allowed without opt-in
    Dedup.simHashPairsFromSigs(sigs, maxDist = 7).collect()
    Dedup.simHashPairsFromSigs(sigs, maxDist = 10, allowWide = true).collect()
  }

  test("tokenSegments: fixed-k split, short tail, edge cases") {
    val d = df("doc_id BIGINT, text STRING",
      Row(1L, "a b c d e"), Row(2L, "a b"), Row(3L, "x"), Row(4L, null))
    val got = d.select(col("doc_id"),
        Dedup.tokenSegments(col("text"), 2).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b", "c d", "e"))
    assert(got(2L) == Seq("a b"))
    assert(got(3L) == Seq("x"))
    assert(got(4L).isEmpty)
  }

  test("dropRepeatedSegments: corpus-repeated segment removed everywhere") {
    val d = df("doc_id BIGINT, text STRING",
      Row(1L, "buy now a b"), Row(2L, "c d buy now"), Row(3L, "e f g h"))
    val out = Dedup.dropRepeatedSegments(d, "doc_id",
        Dedup.tokenSegments(col("text"), 2))
      .select("doc_id", "cleaned", "n_segments", "n_kept").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // "buy now" appears in docs 1 and 2 -> dropped from both
    assert(out(1L) == (("a b", 2L, 1L)))
    assert(out(2L) == (("c d", 2L, 1L)))
    assert(out(3L) == (("e f g h", 2L, 2L)))
  }

  test("dropRepeatedWindows: repeated run cut at ANY offset, span union " +
    "of overlapping windows, short and unique docs untouched") {
    val d = df("doc_id BIGINT, text STRING",
      Row(1L, "intro words then spam spam spam spam tail one"),
      Row(2L, "other spam spam spam spam more text here"), // offset differs
      Row(3L, "totally unique document with enough tokens here"),
      Row(4L, "short doc")) // shorter than the window: no windows at all
    val out = Dedup.dropRepeatedWindows(d, "doc_id", "text",
        windowTokens = 4, minCopies = 2)
      .select("doc_id", "cleaned", "n_tokens", "n_kept").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "spam spam spam spam" repeats across docs 1 and 2 at DIFFERENT
    // offsets — the fixed segment grid would miss it; the sliding
    // window marks exactly those 4 tokens in each doc
    assert(out(1L) == (("intro words then tail one", 9L, 5L)))
    assert(out(2L) == (("other more text here", 8L, 4L)))
    assert(out(3L) == (("totally unique document with enough tokens here",
      7L, 7L)))
    assert(out(4L) == (("short doc", 2L, 2L)))
  }

  test("dropRepeatedWindows: random-corpus differential vs a " +
    "driver-side brute-force reference") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    val corpus = (0L until 60L).map { i =>
      val n = 3 + rnd.nextInt(12)
      i -> Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val L = 3
    val toks = corpus.map { case (id, t) =>
      id -> t.split("\\s+").toSeq }.toMap
    val wc = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    for ((_, ts) <- toks; i <- 0 to ts.length - L)
      wc(ts.slice(i, i + L).mkString(" ")) += 1
    val expect = toks.map { case (id, ts) =>
      val marked = (0 to ts.length - L)
        .filter(i => wc(ts.slice(i, i + L).mkString(" ")) >= 2)
      val kept = ts.indices
        .filterNot(p => marked.exists(s => s <= p && p < s + L))
      id -> ((kept.map(ts).mkString(" "), ts.length.toLong,
        kept.length.toLong))
    }
    val got = Dedup.dropRepeatedWindows(
        df("doc_id BIGINT, text STRING",
          corpus.map(c => Row(c._1, c._2)): _*),
        "doc_id", "text", windowTokens = L, minCopies = 2)
      .select("doc_id", "cleaned", "n_tokens", "n_kept").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect)
  }

  test("dropRepeatedWindows: within-doc repetition counts toward " +
    "minCopies; fully-repeated doc survives empty") {
    val d = df("doc_id BIGINT, text STRING",
      Row(1L, "a b c a b c"), // "a b c a"? windows of 3: abc bca cab abc
      Row(2L, "x y z w v u"))
    val out = Dedup.dropRepeatedWindows(d, "doc_id", "text",
        windowTokens = 3, minCopies = 2)
      .select("doc_id", "cleaned", "n_kept").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // "a b c" occurs at starts 0 and 3 of doc 1 (corpus count 2):
    // spans [0,3) and [3,6) union to the whole doc
    assert(out(1L) == (("", 0L)))
    assert(out(2L) == (("x y z w v u", 6L)))
  }

  test("dropRepeatedSegments keepFirst: smallest (id, pos) survives") {
    val d = df("doc_id BIGINT, text STRING",
      Row(2L, "x y buy now"), Row(1L, "buy now a b"), Row(3L, "buy now"))
    val out = Dedup.dropRepeatedSegments(d, "doc_id",
        Dedup.tokenSegments(col("text"), 2), keepFirst = true)
      .select("doc_id", "cleaned").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // first occurrence = doc 1 pos 0
    assert(out(1L) == "buy now a b")
    assert(out(2L) == "x y")
    assert(out(3L) == "")
  }

  test("dropRepeatedSegments: fully-boilerplate doc survives with empty " +
    "cleaned text; reassembly preserves original order") {
    val d = df("doc_id BIGINT, text STRING",
      Row(1L, "p q"), Row(2L, "p q"), Row(3L, "m n p q z w"))
    val out = Dedup.dropRepeatedSegments(d, "doc_id",
        Dedup.tokenSegments(col("text"), 2))
      .select("doc_id", "cleaned", "n_kept").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("", 0L)))
    assert(out(2L) == (("", 0L)))
    assert(out(3L) == (("m n z w", 2L)))
  }

  test("dropRepeatedSegments: minCopies=3 keeps a twice-repeated segment") {
    val d = df("doc_id BIGINT, text STRING",
      Row(1L, "p q"), Row(2L, "p q"))
    val out = Dedup.dropRepeatedSegments(d, "doc_id",
        Dedup.tokenSegments(col("text"), 2), minCopies = 3)
      .select("doc_id", "n_kept").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L))
  }

  test("lshOperatingPoint: confusion counts reconcile against the " +
      "two generators it audits") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta iota",  // near-dup of 1
      3L -> "one two three four five six seven eight",
      4L -> "one two three four five six seven eight",       // exact dup of 3
      5L -> "totally different content with no overlap here at all")
    val r = Dedup.lshOperatingPoint(d, "doc_id", "text",
      n = 3, threshold = 0.5, bands = 8, rowsPerBand = 4).head()
    val cand = r.getLong(r.fieldIndex("candidate_pairs"))
    val truePairs = r.getLong(r.fieldIndex("true_pairs"))
    val (tp, fp, fn) = (r.getLong(r.fieldIndex("tp")),
      r.getLong(r.fieldIndex("fp")), r.getLong(r.fieldIndex("fn")))
    // internal consistency: counts partition the pair universe
    assert(tp + fp == cand, s"tp $tp + fp $fp != candidates $cand")
    assert(tp + fn == truePairs, s"tp $tp + fn $fn != true $truePairs")
    // ground truth on this fixture: (3,4) identical (J=1), (1,2) at
    // J = 5/7 of the 6 trigrams... both >= 0.5
    assert(truePairs == 2L)
    // the exact-duplicate pair shares every signature slot, so every
    // band agrees -> it MUST be an LSH candidate (tp >= 1)
    assert(tp >= 1L)
    // the S-curve constant is the driver formula verbatim
    assert(r.getLong(r.fieldIndex("theory_capture_micro")) ==
      Dedup.theoryCaptureMicro(0.5, 8, 4))
    // precision/recall micro agree with the counts
    if (cand > 0)
      assert(r.getLong(r.fieldIndex("precision_micro")) ==
        math.floor(tp.toDouble / cand * 1e6 + 0.5).toLong)
    assert(r.getLong(r.fieldIndex("recall_micro")) ==
      math.floor(tp.toDouble / truePairs * 1e6 + 0.5).toLong)
  }
}
