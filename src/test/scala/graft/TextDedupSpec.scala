package graft

import org.apache.spark.sql.functions._

import graft.functions.Texty
import graft.ops.{Dedup, TextAnalysis}

class TextDedupSpec extends SparkTestBase {
  import spark.implicits._

  test("wordShingles: distinct k-grams, short docs get empty array") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(Texty.wordShingles($"text", 3).as("sh"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("rollingHash: deterministic, order-sensitive") {
    val df = Seq("ab", "ba", "ab").toDF("t")
      .select(Texty.rollingHash($"t").as("h"))
    val h = df.as[Long].collect()
    assert(h(0) == h(2) && h(0) != h(1))
    // acc('a'=97,'b'=98): (0*31+97)*31+98 = 3105
    assert(h(0) == 3105L)
  }

  test("textStats: exact counts on a tiny doc") {
    val df = Seq((1L, "the cat and the hat")).toDF("doc_id", "text")
    val r = TextAnalysis.textStats(df).head()
    assert(r.getAs[Long]("n_chars") == 19)
    assert(r.getAs[Long]("n_tokens") == 5)
    assert(r.getAs[Long]("n_uniq_tokens") == 4)
    assert(r.getAs[Long]("n_stopwords") == 3) // the, and, the
    assert(r.getAs[Long]("stop_ratio_bp") == 6000)
  }

  test("langId: detects language from function words + CJK") {
    val df = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "der hund ist gross und die katze ist klein"),
      (3L, "le chat est sur les toits et il est content"),
      (4L, "el perro es grande y los gatos una maravilla"),
      (5L, "这 是 中文 文本"),
      (6L, "xyzzy plugh")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(df).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es",
      5L -> "zh", 6L -> "und"))
  }

  test("mixAllocation: largest-remainder split is exact and up-samples the tail") {
    // token counts 100/25/4 -> weights 10/5/2 (W=17), nt=129, budget=12.
    // bases 7/3/1 (rems 1/9/7), R=1 goes to b (largest rem) -> 7/4/1.
    val doc = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, doc(100), "a"), (2L, doc(25), "b"), (3L, doc(4), "c"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.mixAllocation(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", 100L, 7751L, 10L, 7L, 5833L),
      ("b", 25L, 1937L, 5L, 4L, 3333L),
      ("c", 4L, 310L, 2L, 1L, 833L)))
    // conservation is in-plan (assert_true): sum == budget held above
    assert(got.map(_._5).sum == 12L)
  }

  test("budgetSelect: quality-first prefix fill, per-source budgets, tie-break") {
    // source s: 16 tokens -> budget 4; only the highest-uniq doc fits
    val docs = Seq(
      (1L, "a b c d", "s"),                    // uniq 10000, 4 tokens
      (2L, "a a b b", "s"),                    // uniq 5000
      (3L, "x x x x x x x x", "s"))            // uniq 1250
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.budgetSelect(docs)
      .select("doc_id", "cum_tokens", "src_budget", "kept")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 4L, 1L), (2L, 8L, 4L, 0L), (3L, 16L, 4L, 0L)))
    // equal quality -> doc_id asc decides who fits the budget
    val tied = Seq((10L, "p q r s t", "t"), (11L, "p q r s t", "t"))
      .toDF("doc_id", "text", "source")
    val got2 = TextAnalysis.budgetSelect(tied, budgetDen = 2)
      .select("doc_id", "kept").as[(Long, Long)].collect().toSeq
    assert(got2 == Seq((10L, 1L), (11L, 0L)))
  }

  test("shardBalance: contiguous token cuts balance shards exactly") {
    val docs = Seq((1L, "a b c d"), (2L, "e f g h"),
      (3L, "i j k l"), (4L, "m n o p")).toDF("doc_id", "text")
    val got = TextAnalysis.shardBalance(docs, nShards = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 2L, 8L, 5000L), (1L, 2L, 8L, 5000L)))
    // heavy tail: a doc longer than the ideal shard width just owns its
    // cut — balance degrades by at most that one document
    val skewed = Seq((1L, "a"), (2L, "b"),
      (3L, (1 to 6).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got2 = TextAnalysis.shardBalance(skewed, nShards = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got2 == Seq((0L, 3L, 8L, 10000L)))
  }

  test("dedup exact: identical texts collapse to min id") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(df).select("keep_id", "n_dups")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L)))
  }

  test("ngramJaccard: identical docs score 10000 bp, disjoint docs absent") {
    val df = Seq(
      (1L, "spark makes big data processing fast and simple today"),
      (2L, "spark makes big data processing fast and simple today"),
      (3L, "completely different words about databases and column stores"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccard(df).as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 10000L)))
  }

  test("minhashLsh: catches planted near-identical pair") {
    val base = "spark makes big data processing fast and simple for everyone " +
      "who writes queries over very large distributed column tables daily"
    val df = Seq((1L, base), (2L, base + " extra"), (3L, "unrelated text " +
      "about cooking pasta with tomatoes garlic olive oil and fresh basil"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLsh(df).select("da", "db")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("simhash: identical texts have hamming 0; pairs found via blocking") {
    val df = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashPairs(df).as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 0L)))
  }

  test("WordShingleHashes: distinct count equals the string-shingle path") {
    val docs = Tables(spark, sf0001, "documents").limit(200)
      .union(Seq((90001L, "a b", "x", "x", 3L), (90002L, "ends with space ", "x", "x", 16L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val viaStrings = docs.select(col("doc_id"),
        size(graft.functions.Texty.wordShingles(col("text"), 3)).as("n"))
    val viaKernel = docs.select(col("doc_id"),
        size(graft.functions.WordShingleHashes(col("text"), 3)).as("nk"))
    val joined = viaStrings.join(viaKernel, "doc_id")
      .filter(col("n") =!= col("nk"))
    assert(joined.count() == 0)
  }

  test("WordShingles kernel equals the interpreted string-shingle path") {
    val docs = Tables(spark, sf0001, "documents").limit(200)
      .union(Seq((90001L, "a b", "x", "x", 3L), (90002L, "ends with space ", "x", "x", 16L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val mismatches = docs.select(col("doc_id"),
        array_sort(graft.functions.Texty.wordShingles(col("text"), 2)).as("a"),
        array_sort(graft.functions.WordShingles(col("text"), 2)).as("b"))
      .filter(col("a") =!= col("b"))
    assert(mismatches.count() == 0)
  }

  test("incrementalExact: drops docs already in base, keeps min-id within batch") {
    val base = Seq((2L, "seen before"), (4L, "other")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "brand new"), (3L, "seen before"), // dup of base -> dropped
      (5L, "twice in batch"), (7L, "twice in batch")) // min id 5 kept
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.incrementalExact(base, incoming)
      .select("keep_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 5L))
  }

  test("NfcNormalize: decomposed composes, normalized passes through, null-safe") {
    val df = Seq(
      Some("cafe\u0301"),   // decomposed -> NFC caf+U00E9
      Some("caf\u00e9"),    // already NFC -> unchanged (fast path)
      Some("Zu\u0308rich"), // decomposed -> NFC Z+U00FC+rich
      None)
      .toDF("t")
      .select(graft.functions.NfcNormalize($"t").as("n"))
    assert(df.as[Option[String]].collect().toSeq ==
      Seq(Some("caf\u00e9"), Some("caf\u00e9"), Some("Z\u00fcrich"), None))
    // SQL surface via extensions
    // NB: Spark's chr() is mod-256 ASCII (unlike DuckDB's codepoint
    // chr), so the combining mark goes in as a compiler escape
    assert(spark.sql("SELECT nfc_normalize('cafe\u0301')")
      .head().getString(0) == "caf\u00e9")
    // NFKC additionally folds compatibility forms: the fi ligature
    // U+FB01 and fullwidth A U+FF21 become plain ASCII — the search/
    // tokenization normalization; NFC leaves both untouched
    val (nfc, nfkc) = Seq("\ufb01le \uff21").toDF("t")
      .select(
        graft.functions.NfcNormalize($"t").as("c"),
        graft.functions.UnicodeNormalize($"t",
          java.text.Normalizer.Form.NFKC).as("kc"))
      .as[(String, String)].head()
    assert(nfc == "\ufb01le \uff21")
    assert(nfkc == "file A")
    assert(spark.sql("SELECT nfkc_normalize('\ufb01le')")
      .head().getString(0) == "file")
  }

  test("containmentPairs: quoted-inside doc flags one direction only") {
    val short = "alpha beta gamma delta epsilon"
    val long = "prefix words here " + short + " suffix trailer tokens four five"
    val df = Seq((1L, short), (2L, long),
      (3L, "unrelated text about other things entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df)
      .as[(Long, Long, Long)].collect().toSeq
    // every shingle of doc 1 occurs in doc 2 -> containment 10000 for
    // (1 in 2); doc 2 has many shingles outside doc 1 -> reverse
    // direction under the 0.8 threshold; doc 3 shares nothing
    assert(got == Seq((1L, 2L, 10000L)))
    // exact duplicates contain each other: both directions at 10000
    val dup = Seq((1L, short), (2L, short)).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(dup).as[(Long, Long, Long)]
      .collect().toSeq == Seq((1L, 2L, 10000L), (2L, 1L, 10000L)))
  }

  test("containmentPrefix: lossless where the df cap goes blind") {
    // 12 identical docs: both their shingles exceed maxDf=5, so the
    // capped variant drops them and finds NOTHING; the prefix variant
    // pairs every directed pair at containment 10000 bp
    val docs = (1 to 12).map(i => (i.toLong, "x y z w")).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(docs, maxDf = 5).count() == 0)
    val got = Dedup.containmentPrefix(docs)
      .as[(Long, Long, Long)].collect()
    assert(got.length == 132 && got.forall(_._3 == 10000L)) // 12·11 directed
    // and on the real corpus it equals the UNCAPPED capped-variant answer
    val mixed = Tables(spark, sf0001, "documents")
    val plain = Dedup.containmentPairs(mixed, maxDf = Int.MaxValue)
      .as[(Long, Long, Long)].collect().toSeq
    val pref = Dedup.containmentPrefix(mixed)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pref == plain && pref.nonEmpty)
  }

  test("containmentPrefix: quoted-inside doc flags one direction only") {
    val short = "alpha beta gamma delta epsilon"
    val long = "prefix words here " + short +
      " suffix trailer tokens four five"
    val df = Seq((1L, short), (2L, long),
      (3L, "unrelated text about other things entirely"))
      .toDF("doc_id", "text")
    assert(Dedup.containmentPrefix(df).as[(Long, Long, Long)]
      .collect().toSeq == Seq((1L, 2L, 10000L)))
  }

  test("ingestGate: all five verdicts and their precedence on a literal batch") {
    // near-dup fodder: long shared shingle runs so LSH bands collide
    val longA = (1 to 40).map(i => s"tok$i").mkString(" ")
    val longB = (1 to 39).map(i => s"tok$i").mkString(" ") + " tokX"
    // intra-batch pair: unique vocabulary (never matches corpus), one
    // trailing-token difference — the round-6 blind spot now caught
    val longC = (1 to 40).map(i => s"btok$i").mkString(" ")
    val longD = longC + " btokTail"
    val corpus = Seq(
      (2L, "alpha beta gamma delta"), (4L, longA), (6L, "unrelated text here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha beta gamma delta"), // exact vs corpus -> exact_dup(2)
      (3L, longB),                    // near-dup of corpus 4
      (5L, "fresh content one"),      // new, but duplicated at id 7
      (7L, "fresh content one"),      // batch_dup of keeper 5
      (9L, "alpha beta gamma delta"), // corpus exact beats batch dup -> exact_dup(2)
      (11L, "entirely novel stuff"),  // new
      (13L, longC),                   // new (first of the intra-batch pair)
      (15L, longD))                   // batch_near_dup of 13
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.ingestGate(corpus, batch)
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, "exact_dup", Some(2L)),
      (3L, "near_dup", Some(4L)),
      (5L, "new", None),
      (7L, "batch_dup", Some(5L)),
      (9L, "exact_dup", Some(2L)),
      (11L, "new", None),
      (13L, "new", None),
      (15L, "batch_near_dup", Some(13L))))
  }

  test("ingestGate: null-text docs are excluded on both sides, empties handled") {
    val corpus = Seq((2L, "alpha beta"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, null.asInstanceOf[String]), // null text -> not gated, absent
      (3L, "alpha beta"),              // exact_dup of 2
      (5L, "solo"))                    // new
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.ingestGate(corpus, batch)
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(got == Seq((3L, "exact_dup", Some(2L)), (5L, "new", None)))
    // empty batch -> empty verdict table, no crash
    assert(graft.ops.Dedup.ingestGate(corpus, batch.limit(0)).count() == 0L)
    // empty corpus -> batch self-dedups only
    val selfOnly = graft.ops.Dedup.ingestGate(corpus.limit(0), batch)
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(selfOnly == Seq((3L, "new", None), (5L, "new", None)))
    // a doc id on BOTH sides would fuse two documents into one signature
    // — refused loudly, not silently corrupted
    val clash = Seq((2L, "other text")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      graft.ops.Dedup.ingestGate(corpus, clash))
    assert(e.getMessage.contains("disjoint"))
  }

  test("the gates' verdict ladder, best-match probe and band fold each have one home per engine") {
    val dedup = "ops/Dedup.scala"
    val twins = "SparkEntryOracleHelpers1.scala"
    // (construction, its marker, the files the rule covers, its homes)
    val rules = Seq[(String, String => Boolean, String, Set[(String, String)])](
      ("verdict ladder", _.contains("exact_dup"), "",
        Set(dedup -> "gateVerdicts", twins -> "verdictSql")),
      ("best-match probe",
        c => c.contains("partitionBy(\"bid\")") || c.contains("PARTITION BY bid"), "",
        Set(dedup -> "bestMatch", twins -> "bestMatchCtes")),
      ("band fold", _.contains("BandMix"), dedup, Set(dedup -> "bandKeysRaw")))
    val code = SourceScan.codeLines()
    val offenders = for {
      (what, marks, scope, homes) <- rules
      (f, n, c) <- code
      if marks(c) && f.getPath.endsWith(scope)
      member = SourceScan.enclosingMember(f, n)
      if !homes.exists { case (file, m) => f.getPath.endsWith(file) && m == member }
    } yield s"$what outside its home: ${f.getPath}:$n (in $member): $c"
    if (offenders.nonEmpty)
      fail("reuse Dedup.gateVerdicts/bestMatch/bandKeysRaw or the twins' " +
        "verdictSql/bestMatchCtes:\n" + offenders.mkString("\n"))
  }

  test("portable kernels: poly-shingle count matches string path; SimHash60 fits 60 bits") {
    val docs = Tables(spark, sf0001, "documents").limit(200)
      .union(Seq((90001L, "a b", "x", "x", 3L), (90002L, "ends with space ", "x", "x", 16L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val viaStrings = docs.select(col("doc_id"),
        size(graft.functions.Texty.wordShingles(col("text"), 3)).as("n"))
    val viaKernel = docs.select(col("doc_id"),
        size(graft.functions.WordShinglePolyHashes(col("text"), 3)).as("nk"))
    assert(viaStrings.join(viaKernel, "doc_id")
      .filter(col("n") =!= col("nk")).count() == 0)
    val bad = docs.select(graft.functions.SimHash60(col("text")).as("h"))
      .filter(col("h") < 0 || shiftrightunsigned(col("h"), 60) =!= 0)
    assert(bad.count() == 0, "simhash60 escaped its 60-bit range")
  }

  test("chunkTokens: stride windows cover every token; short/empty docs get one chunk") {
    val long = (1 to 95).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, long), (2L, "a b"), (3L, ""))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.chunkTokens(docs, chunkSize = 40, stride = 30)
      .as[(Long, Long, Long, String)].collect().toSeq
    val d1 = got.filter(_._1 == 1L)
    // starts 0/30/60/90 -> sizes 40, 40, 35, 5; overlapping windows
    assert(d1.map(c => (c._2, c._3)) == Seq((0L, 40L), (1L, 40L), (2L, 35L), (3L, 5L)))
    // chunk i holds exactly tokens [i*30, i*30+40) of the original
    val toks = long.split(" ")
    d1.foreach { case (_, i, _, text) =>
      assert(text == toks.slice(i.toInt * 30, i.toInt * 30 + 40).mkString(" "))
    }
    assert(got.filter(_._1 == 2L).map(c => (c._2, c._3, c._4)) == Seq((0L, 2L, "a b")))
    assert(got.filter(_._1 == 3L).map(c => (c._2, c._3, c._4)) == Seq((0L, 1L, "")))
  }

  test("resolveClusters: deep chain component resolves to one cluster") {
    // 60-node chain: neighbor-only propagation needs 59 rounds; the
    // pointer-doubling shortcut must converge well under the cap
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("da", "db")
    val out = graft.ops.Dedup.resolveClusters(pairs)
      .as[(Long, Long)].collect()
    assert(out.length == 60)
    assert(out.forall(_._2 == 1L), "chain split into multiple clusters")
  }

  test("resolveClusters: min-label connected components over pair edges") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 3L))
      .toDF("da", "db")
    val out = graft.ops.Dedup.resolveClusters(pairs)
      .as[(Long, Long)].collect().toMap
    // component {1,2,3,7} -> 1; component {5,6} -> 5
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      5L -> 5L, 6L -> 5L))
  }

  test("minhash candidates cover all high-jaccard pairs at sf0.001") {
    val docs = Tables(spark, sf0001, "documents")
    val exact = Dedup.ngramJaccard(docs, minJaccardBp = 7000)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val cand = Dedup.minhashLsh(docs, minSigMatches = 8)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(cand),
      s"missed: ${exact -- cand}")
  }

  test("tokenSetDedup: order and repetition collapse, distinct sets don't") {
    val docs = Seq(
      (1L, "b a a b"), (2L, "a b"), (3L, "a b b a a"), // same set {a,b}
      (4L, "a c"), (5L, "a"))
      .toDF("doc_id", "text")
    val got = Dedup.tokenSetDedup(docs)
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (4L, 1L), (5L, 1L)))
  }

  test("editDistancePairs: banded distance within blocks, hot blocks dropped") {
    def doc(id: Long, lang: String, text: String) =
      (id, text, lang, text.length.toLong)
    val docs = Seq(
      doc(1, "en", "hello world"), doc(2, "en", "hello worlds"), // lev 1
      doc(3, "en", "different text!"), // same 16-char block, beyond the band
      doc(4, "zh", "hello world"), // other lang -> other block
      doc(5, "en", "x" * 200)) // other length bucket
      .toDF("doc_id", "text", "lang", "n_chars")
    val got = Dedup.editDistancePairs(docs, maxDist = 3)
      .select("da", "db", "lev").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L)))
    // cap = 1: the en/bucket-0 block (3 docs) is dropped loudly -> no pairs
    val capped = Dedup.editDistancePairs(docs, maxDist = 3, maxBucket = 1)
    assert(capped.count() == 0)
  }

  test("normalizedDedup: case/punct/whitespace variants collapse") {
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello   world"), (3L, "HELLO WORLD"),
      (4L, "goodbye world"))
      .toDF("doc_id", "text")
    val got = Dedup.normalizedDedup(docs)
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (4L, 1L)))
  }

  test("contamination: >= minShared distinct shared trigrams flags a doc") {
    val corpus = Seq(
      (1L, "a b c d e"), // trigrams {a b c, b c d, c d e}: 3 shared
      (2L, "a b c x y"), // 1 shared
      (3L, "p q r s t")) // 0 shared
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val got = TextAnalysis.contamination(corpus, bench, minShared = 2)
      .select("doc_id", "n_shared").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L)))
  }

  test("contamination: shuffle-join fallback (guard) == broadcast plan") {
    val corpus = Seq(
      (1L, "a b c d e"), (2L, "a b c x y"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val bcast = TextAnalysis.contamination(corpus, bench, minShared = 2)
      .select("doc_id", "n_shared").as[(Long, Long)].collect().toSeq
    // maxBroadcastShingles = 0 forces the over-limit shuffle fallback
    val shuffled = TextAnalysis.contamination(corpus, bench, minShared = 2,
      maxBroadcastShingles = 0L)
      .select("doc_id", "n_shared").as[(Long, Long)].collect().toSeq
    assert(shuffled == bcast && bcast == Seq((1L, 3L)))
  }

  test("jaccardPrefix: lossless where the df cap goes blind") {
    // 12 identical docs: both their shingles exceed maxDf=5, so the
    // capped variant drops them and finds NOTHING; prefix filtering
    // keeps every pair at jaccard 10000 bp
    val docs = (1 to 12).map(i => (i.toLong, "x y z w")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccard(docs, maxDf = 5).count() == 0)
    val got = Dedup.jaccardPrefix(docs)
      .as[(Long, Long, Long)].collect()
    assert(got.length == 66 && got.forall(_._3 == 10000L))
    // and on the real corpus it equals the UNCAPPED exact answer
    val mixed = Tables(spark, sf0001, "documents")
    val plain = Dedup.ngramJaccard(mixed, maxDf = Int.MaxValue)
      .as[(Long, Long, Long)].collect().toSeq
    val pref = Dedup.jaccardPrefix(mixed)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pref == plain && pref.nonEmpty)
  }

  test("jaccardPrefix: duplicate groups expand through their rep's pairs") {
    // docs 1,2 identical; 3 near-dups them (J = 2/4 = 5000 bp); 4 unrelated.
    // expected: intra (1,2,10000) + cross (1,3),(2,3) at 5000 via rep 1.
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"),
      (3L, "a b c d f"), (4L, "q r s t u")).toDF("doc_id", "text")
    val got = Dedup.jaccardPrefix(docs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 10000L), (1L, 3L, 5000L), (2L, 3L, 5000L)))
  }

  test("capStats: hot keys and dropped volumes counted per cap stage") {
    // 120 copies of one boilerplate text: its single distinct shingle
    // exceeds maxDf=100, its identical simhash makes all 4 chunk buckets
    // hot, and its (en, length-bucket-1) edit block exceeds 100. The two
    // unique docs (length bucket 2) stay under every cap.
    val docs = ((1 to 120).map(i =>
      (i.toLong, "spam spam spam spam", "en", 19L)) ++
      Seq((201L, "alpha beta gamma delta", "en", 40L),
        (202L, "epsilon zeta eta theta", "en", 40L)))
      .toDF("doc_id", "text", "lang", "n_chars")
    val got = Dedup.capStats(docs)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("shingle_df") == ((1L, 120L)))
    assert(got("simhash_chunk") == ((4L, 480L)))
    assert(got("edit_block") == ((1L, 120L)))
    // spam docs lose their only (hot) shingle => no signatures => the two
    // survivors can't overflow any band bucket
    assert(got("minhash_band") == ((0L, 0L)))
  }

  test("dedup_pipeline: composed run agrees with the separate stages") {
    val docs = Tables(spark, sf0001, "documents")
    val res = SparkEntry.queries("dedup_pipeline")(spark, sf0001)
      .as[(Long, Long, Long)].collect().toSeq
    // every doc exactly once; keep flag == (keep_id == doc_id); the
    // canonical keeper is never larger than the member
    assert(res.map(_._1).distinct.size == res.size && res.nonEmpty)
    assert(res.forall { case (d, kid, keep) =>
      (keep == 1L) == (kid == d) && kid <= d })
    val clusters = Dedup.resolveClusters(
      Dedup.levenshteinRescore(Dedup.minhashLsh(docs), docs))
      .as[(Long, Long)].collect().toMap
    res.foreach { case (d, kid, _) =>
      assert(clusters.getOrElse(d, d) == kid, s"doc $d keeps $kid") }
  }

  test("levenshteinRescore: distances on given candidates only, band filters") {
    val docs = Seq(
      (1L, "hello world"), (2L, "hello worlds"),
      (3L, "totally unrelated"), (4L, "hello w0rld"))
      .toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (2L, 4L)).toDF("da", "db")
    val got = Dedup.levenshteinRescore(cand, docs, maxDist = 3)
      .select("da", "db", "lev").as[(Long, Long, Long)].collect().toSeq
    // (1,3) is beyond the band; (1,4) was never a candidate
    assert(got == Seq((1L, 2L, 1L), (2L, 4L, 2L)))
  }

  test("repetitionStats: bigram OCCURRENCE fractions; <2-token docs absent") {
    val docs = Seq(
      (1L, "a b a b a"), // bigrams a b, b a, a b, b a: n=4 uniq=2 top=2
      (2L, "x y z"), //       x y, y z: no repetition
      (3L, "solo")) //        1 token -> no bigrams -> absent
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs)
      .select("doc_id", "n_bigrams", "n_uniq_bigrams", "top_occ",
        "dup_bp", "top_bp")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 2L, 2L, 5000L, 5000L),
      (2L, 2L, 2L, 1L, 0L, 5000L)))
  }

  test("invertedIndex: full df, truncated sorted postings, per-doc distinct") {
    val docs = Seq(
      (2L, "a b"), (1L, "a b"), (5L, "b b"), // b once per doc despite "b b"
      (3L, "a c"), (4L, "a"))
      .toDF("doc_id", "text")
    // a: df=4 but postings cap at the 3 lowest ids; c: df=1 kept too
    val got = TextAnalysis.invertedIndex(docs, cap = 3)
      .as[(String, Long, String)].collect().toSeq
    assert(got == Seq(
      ("a", 4L, "1,2,3"), ("b", 3L, "1,2,5"), ("c", 1L, "3")))
  }

  test("packSequences: cut-every-budget boundaries on a literal corpus") {
    val tiny = Seq((1L, "t t t"), (2L, "t t"), (3L, "t t t t"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(tiny, budget = 4)
      .select("doc_id", "n_tokens", "start_off", "seq_first", "seq_last",
        "n_seqs")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // cum: 3, 5, 9; budget 4 => doc2 straddles seqs 0-1, doc3 seqs 1-2
    assert(got == Seq(
      (1L, 3L, 0L, 0L, 0L, 1L),
      (2L, 2L, 3L, 0L, 1L, 2L),
      (3L, 4L, 5L, 1L, 2L, 2L)))
  }

  test("packSequences: distributed prefix sum == single-partition window") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val got = TextAnalysis.packSequences(docs, budget = 64)
      .select("doc_id", "start_off")
      .as[(Long, Long)].collect().toSeq.sorted
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .withColumn("start_off", coalesce(sum("n").over(w), lit(0L)))
      .select("doc_id", "start_off")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == want)
  }

  test("heavyHitters: exact top-k on a skewed corpus with forced decrements") {
    // 'hot' 500x, 'warm' 100x, 30 tail tokens 2x each → N = 660.
    // capacity 8 < vocab 32 forces the Misra-Gries decrement path on
    // every partition; the guard holds (100 * 8 = 800 > 660), so the
    // result must equal the exact top-2 regardless of summary contents.
    val rows =
      (0 until 500).map(i => (i.toLong, "hot")) ++
      (0 until 100).map(i => (500L + i, "warm")) ++
      (0 until 30).flatMap(j =>
        Seq((600L + 2 * j, s"tail$j"), (601L + 2 * j, s"tail$j")))
    val docs = rows.toDF("doc_id", "text").repartition(4)
    val got = TextAnalysis.heavyHitters(docs, k = 2, capacity = 8)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("hot", 500L), ("warm", 100L)))
  }

  test("lmFamiliarity: hand-counted trigram scores; shuffle fallback agrees") {
    // trigrams: d1 {abc,bcd}, d2 {abc,bcd,cdx} → counts abc=2, bcd=2,
    // cdx=1; d3 is too short to score
    val docs = Seq((1L, "abcd"), (2L, "abcdx"), (3L, "ab"))
      .toDF("doc_id", "text")
    val want = Seq((1L, 2L, 4L, 2L), (2L, 3L, 5L, 1L))
    val got = TextAnalysis.lmFamiliarity(docs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == want)
    // vocab guard forces the non-broadcast join; results identical
    val shuffled = TextAnalysis.lmFamiliarity(docs, maxBroadcastVocab = 0L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(shuffled == want)
  }

  test("chunkDedup: first occurrence wins, documents rebuild in order") {
    val c = (s: Char) => (1 to 10).map(i => s"$s$i").mkString(" ")
    val docs = Seq(
      (1L, c('a') + " " + c('b')),  // chunks A, B — both first
      (2L, c('a') + " " + c('c')),  // A repeats → keeps only C
      (3L, c('a') + " " + c('b'))   // fully duplicate → empty rebuild
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, c('a') + " " + c('b')),
      (2L, 2L, 1L, c('c')),
      (3L, 2L, 0L, "")))
  }

  test("boilerplateStrip: df-threshold removes ALL occurrences, keeps sub-threshold repeats") {
    val c = (s: Char) => (1 to 10).map(i => s"$s$i").mkString(" ")
    val docs = Seq(
      (1L, c('a') + " " + c('b')),  // A in 3 docs -> boilerplate
      (2L, c('a') + " " + c('c')),  // C in 2 docs -> survives
      (3L, c('a') + " " + c('b')),  // B in 2 docs -> survives
      (4L, c('c') + " " + c('c'))   // within-doc repeat, df=2 -> both kept
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateStrip(docs)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, c('b')),
      (2L, 2L, 1L, c('c')),
      (3L, 2L, 1L, c('b')),
      (4L, 2L, 2L, c('c') + " " + c('c'))))
  }

  test("corpusPrep: first-failing-stage attribution through the composed pipeline") {
    val boiler = (1 to 10).map(i => s"a$i").mkString(" ")  // 10-token chunk
    val good = "the and alpha bravo candle"                 // passes quality
    val docs = Seq(
      (50L, "zebra1 zebra2 zebra3 zebra4 zebra5"), // bench split (id%50==0)
      (1L, boiler + " " + good),  // boiler stripped -> kept
      (2L, boiler + " " + good),  // same clean text -> duplicate of 1
      (3L, boiler),               // strips to empty -> quality
      (4L, "the and zebra1 zebra2 zebra3 zebra4 zebra5"), // 3 bench trigrams
      (5L, "the and delta echo foxtrot")                  // kept
    ).toDF("doc_id", "text").withColumn("source", lit("s1"))
    val got = TextAnalysis.corpusPrep(docs)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "s1", "kept", 5L),
      (2L, "s1", "duplicate", 0L),
      (3L, "s1", "quality", 0L),
      (4L, "s1", "contaminated", 0L),
      (5L, "s1", "kept", 5L)))
  }

  test("corpusReport: per-(source, lang) volumes, quality and dup rates in bp") {
    val good = "the and alpha bravo candle" // passes every Gopher rule
    val docs = Seq(
      (1L, good, "s1", "en"),
      (2L, good, "s1", "en"),   // exact dup of doc 1
      (3L, "x y", "s1", "en"),  // quality fail (2 tokens)
      (4L, "ab", "s2", "zh")    // quality fail (1 token)
    ).toDF("doc_id", "text", "source", "lang")
    val got = TextAnalysis.corpusReport(docs)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("s1", "en", 3L, 12L, 6666L, 3333L, 4L),
      ("s2", "zh", 1L, 1L, 0L, 0L, 1L)))
  }

  test("bpeEncode: greedy merge application; empty docs surface with zeros") {
    // training on "abab ab" yields merges "a b"->"ab", "ab ab"->"abab"
    // (the bpeTrain hand-trace above); encoding: "abab" -> 1 token,
    // "ab" -> 1 token; compression = 2*10000 div 6 = 3333 bp
    val docs = Seq((1L, "abab ab"), (2L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, merges = 5)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 6L, 2L, 3333L), (2L, 0L, 0L, 0L, 0L)))
  }

  test("temperatureSample: integer rates and hash membership, recomputed locally") {
    // counts 100 and 4 → isq 10 and 2, min_isq 2 →
    // rate(big) = 2*10000 div 10 = 2000 bp, rate(small) = 10000 bp
    val docs = ((0 until 100).map(i => (i.toLong, "big")) ++
      (100 until 104).map(i => (i.toLong, "small")))
      .toDF("doc_id", "text").withColumn("source", col("text"))
    val got = graft.ops.Features.temperatureSample(docs)
      .as[(String, Long, Long, Long)].collect().toSeq
    import graft.functions.Portable.{P1, aCoef, bCoef}
    def kept(ids: Range, bp: Long): Long = ids.count { i =>
      (i.toLong % P1 * aCoef(97) + bCoef(97)) % P1 < P1 / 10000L * bp
    }.toLong
    assert(got == Seq(
      ("big", 100L, 2000L, kept(0 until 100, 2000L)),
      ("small", 4L, 10000L, kept(100 until 104, 10000L))))
    // sanity: the rarest source keeps everything at bp 10000
    assert(got.find(_._1 == "small").get._4 == 4L)
  }

  test("bm25TopK: hand-computed integer scores (saturation + length norm)") {
    // dl: d1=4 d2=2 d3=2; N=3, avgdl = 8 div 3 = 2
    // idf: a = 30000 div 2 = 15000, d = 30000 div 1 = 30000
    // dlnorm: d1 = 2500 + (7500*4) div 2 = 17500; d2 = 2500 + 7500 = 10000
    // contrib(1,a) = 15000*2*22000 div (20000 + 12000*17500 div 10000) = 16097
    // contrib(2,a) = 15000*1*22000 div (10000 + 12000) = 15000
    // contrib(2,d) = 30000*1*22000 div 22000 = 30000
    val docs = Seq((1L, "a b a c"), (2L, "a d"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, Seq("a", "d"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 1L, 45000L), (1L, 2L, 16097L)))
  }

  test("readability: hand-computed Flesch milli, min-1 sentences, empty excluded") {
    // "the cat sat." : words 3, sentences 1, vowel runs: e,a,a -> 3
    // fre = 206835 - 1015*3/1 - 84600*3/3 = 206835 - 3045 - 84600
    val docs = Seq(
      (1L, "the cat sat."),
      (2L, "xz qrst"), // no vowels (y counts!), no punct: syll 0, sent 1
      (3L, ""))         // empty -> excluded
      .toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 1L, 3L, 206835L - 3045L - 84600L),
      (2L, 2L, 1L, 0L, 206835L - 2030L)))
  }

  test("langIdEval: confusion cells, marginals, accuracy hand-checked") {
    // en doc scored en (hit); de doc with no profile words -> 'und'
    // (miss); second en doc scored en
    val docs = Seq(
      (1L, "the cat and the dog", "en"),
      (2L, "kein profilwort hier", "de"),
      (3L, "of mice and men", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langIdEval(docs)
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq(
      ("de", "und", 1L, 1L, 1L, 10000L, 10000L, 6666L),
      ("en", "en", 2L, 2L, 2L, 10000L, 10000L, 6666L)))
  }

  test("prfExpand: feedback docs mine the expansion, rescore surfaces a doc the raw query misses") {
    // query {spark}: d1 is the only hit and becomes the feedback doc;
    // its dominant non-query non-stop term is "alpha" (tf 2), so d4 —
    // which shares no raw query term — enters the expanded ranking
    val docs = Seq(
      (1L, "spark alpha alpha beta"),
      (2L, "gamma delta"),
      (3L, "beta beta gamma"),
      (4L, "alpha zeta"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.prfExpand(docs, Seq("spark"), fbDocs = 1,
        fbTerms = 1, k = 10)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got.forall(_._4 == "alpha"), "expansion mined from d1")
    val ranked = got.map(_._1)
    assert(ranked.contains(4L), "expanded query must surface d4")
    assert(ranked.contains(1L) && !ranked.contains(2L) &&
      !ranked.contains(3L))
    assert(got.head._1 == 1L, "the feedback doc still ranks first")
  }

  test("searchHybrid: RRF fuses lexical and vector ranks, absent side scores 0") {
    // bm25 (terms a,d): doc2 rank 1, doc1 rank 2 (hand trace in bm25TopK
    // test); cosine vs vec 0 = [1,0]: vec1 cos 1 -> rank 1, vec2 cos 0 ->
    // rank 2, vec3 cos -1 -> rank 3. RRF bp: 10000 div (60 + rank).
    val docs = Seq((1L, "a b a c"), (2L, "a d"), (3L, "x y"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(0f, 1f)), (3L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val got = TextAnalysis.searchHybrid(docs, emb, Seq("a", "d"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 161L + 163L),
      (2L, 1L, 2L, 163L + 161L),
      (3L, 0L, 3L, 158L)))
  }

  test("bpeFertility: the merge-covered source reads cheaper per word") {
    // merges=1 learns "a b"->"ab" (count 4 beats "x y" at 2); s1's
    // words collapse to 1 token (fertility 1000 milli), s2's stay at 2
    // chars = 2 tokens (2000) — the domain-mismatch signal in miniature
    val docs = Seq((1L, "ab ab ab ab", "s1"), (2L, "xy xy", "s2"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.bpeFertility(docs, merges = 1)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("s1", 1L, 4L, 8L, 4L, 1000L, 2000L),
      ("s2", 1L, 2L, 4L, 4L, 2000L, 1000L)))
  }

  test("bpePairStats: within-token char pairs, deterministic top-k cut") {
    // tokens ab, ab, cd, abc -> pairs ab:3, bc:1, cd:1; tie-break pair asc
    val docs = Seq((1L, "ab ab cd"), (2L, "abc")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairStats(docs, k = 2)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("ab", 3L), ("bc", 1L)))
    // single-char tokens generate no pairs
    assert(TextAnalysis.bpePairStats(Seq((1L, "a b c")).toDF("doc_id", "text"))
      .count() == 0)
  }

  test("bpeTrain: hand-traced merges; stops early when no pair remains") {
    // reps "a b a b", "a b" -> m1 = ("a b", 3); rewrite -> "ab ab", "ab"
    // -> m2 = ("ab ab", 1); rewrite -> "abab", "ab" -> no pairs left
    val docs = Seq((1L, "abab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, merges = 5)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a b", 3L), (2L, "ab ab", 1L)))
  }

  test("bpeTrain: per-position pair counts, left-to-right greedy rewrite") {
    // "aaa" -> "a a a": pair (a,a) at 2 positions; replace("a a a",
    // "a a", "aa") = "aa a" (greedy non-overlapping), then ("aa","a")
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, merges = 2)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a a", 2L), (2L, "aa a", 1L)))
  }

  test("appendToSigIndex: cycle-2 probe sees cycle-1 admissions as corpus") {
    val dir = Scratch.fresh("sig-append-spec")
    val longA = (1 to 40).map(i => s"ctok$i").mkString(" ")  // corpus doc
    val longB = (1 to 40).map(i => s"ntok$i").mkString(" ")  // admitted in c1
    val longB2 = (1 to 39).map(i => s"ntok$i").mkString(" ") + " ntokX"
    val corpus = Seq((2L, longA)).toDF("doc_id", "text")
    Dedup.buildSigIndex(corpus, dir)
    val batch1 = Seq((1L, longB)).toDF("doc_id", "text")
    val v1 = Dedup.probeSigIndex(spark, dir, batch1)
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(v1 == Seq((1L, "new", None)))
    Dedup.appendToSigIndex(spark, dir, batch1)
    // batch 2: near-dup of the ADMITTED doc (uncatchable without the
    // append — its vocabulary never touches the built corpus), plus an
    // exact dup of it, plus a genuinely new doc
    val batch2 = Seq((3L, longB2), (5L, longB), (7L, "entirely new thing"))
      .toDF("doc_id", "text")
    val v2 = Dedup.probeSigIndex(spark, dir, batch2)
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(v2 == Seq(
      (3L, "near_dup", Some(1L)),
      (5L, "exact_dup", Some(1L)),
      (7L, "new", None)))
    // negative control: a fresh, never-appended index misses all of it
    val dir2 = Scratch.fresh("sig-append-ctl")
    Dedup.buildSigIndex(corpus, dir2)
    val ctl = Dedup.probeSigIndex(spark, dir2, batch2)
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(ctl.forall(_._2 == "new"))
  }

  test("sig-index REBUILD re-scopes the caps appendToSigIndex pins") {
    def tmp(tag: String) = Scratch.fresh(s"sig-rebuild-$tag")
    val dirA = tmp("a"); val dirB = tmp("b")
    // d0 and the batch-1 doc share exactly ONE shingle ('a b c'); the
    // rest of batch-1's vocabulary is disjoint, so it probes as `new`
    // and is admitted — but its admission pushes df('a b c') to 2
    val d0 = "a b c " + (1 to 20).map(i => s"ctok$i").mkString(" ")
    val b1 = "a b c " + (1 to 20).map(i => s"ntok$i").mkString(" ")
    val corpus = Seq((0L, d0)).toDF("doc_id", "text")
    val batch1 = Seq((1L, b1)).toDF("doc_id", "text")
    Dedup.buildSigIndex(corpus, dirA, maxDf = 1)
    val v1 = Dedup.probeSigIndex(spark, dirA, batch1)
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(v1 == Seq((1L, "new", None)))
    Dedup.appendToSigIndex(spark, dirA, batch1)
    // appended index: hot list stays BUILD-PINNED (df over d0 alone —
    // nothing hot); rebuilt index: df re-scoped over d0 ∪ b1, so the
    // shared shingle crosses maxDf=1 and lands on the refreshed hot list
    Dedup.buildSigIndex(corpus.unionByName(batch1), dirB, maxDf = 1)
    assert(spark.read.parquet(s"$dirA/hot_shingles").isEmpty,
      "build-pinned hot list must not see the appended doc's df")
    assert(spark.read.parquet(s"$dirB/hot_shingles").count() == 1L,
      "rebuild must re-scope dfs over the grown corpus")
    // a near-dup of d0 verdicts identically on both indexes: the newly
    // hot shingle drops from BOTH sides' signatures symmetrically
    val batch2 = Seq((3L, d0 + " extra")).toDF("doc_id", "text")
    val vA = Dedup.probeSigIndex(spark, dirA, batch2)
      .as[(Long, String, Option[Long])].collect().toSeq
    val vB = Dedup.probeSigIndex(spark, dirB, batch2)
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(vA == Seq((3L, "near_dup", Some(0L))) && vA == vB)
  }

  test("bpeTrainBatched: merge table equals sequential bpeTrain") {
    // the real corpus at two merge depths (the registered query's 5 and
    // a deeper 20 that spans many batched rounds)
    val docs = Tables(spark, sf0001, "documents")
    for (m <- Seq(5, 20)) {
      val seqT = TextAnalysis.bpeTrain(docs, merges = m)
        .as[(Long, String, Long)].collect().toSeq
      val bat = TextAnalysis.bpeTrainBatched(docs, merges = m)
        .as[(Long, String, Long)].collect().toSeq
      assert(bat == seqT, s"batched diverged from sequential at merges=$m")
    }
    // tie corpus: equal top counts force the batch to stop at one merge
    // per round — still identical to sequential
    val ties = Seq((1L, "ab ab cd cd")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrainBatched(ties, merges = 4)
      .as[(Long, String, Long)].collect().toSeq ==
      TextAnalysis.bpeTrain(ties, merges = 4)
        .as[(Long, String, Long)].collect().toSeq)
    // conflict corpus: overlapping-symbol candidates ("a b" then "b c")
    // must not batch together
    val conf = Seq((1L, "abc abc abc abd")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrainBatched(conf, merges = 4)
      .as[(Long, String, Long)].collect().toSeq ==
      TextAnalysis.bpeTrain(conf, merges = 4)
        .as[(Long, String, Long)].collect().toSeq)
  }

  test("split_leakage_safe: cluster members never straddle splits") {
    val res = SparkEntry.queries("split_leakage_safe")(spark, sf0001)
      .as[(Long, Long, String)].collect().toSeq
    assert(res.nonEmpty && res.map(_._1).distinct.size == res.size)
    // every cluster lands in exactly one split
    res.groupBy(_._2).foreach { case (cid, ms) =>
      assert(ms.map(_._3).distinct.size == 1, s"cluster $cid straddles") }
    // split is the portable affine hash of cluster_id at 2000 bp
    import graft.functions.Portable.{P1, aCoef, bCoef}
    res.foreach { case (_, cid, split) =>
      val h = (cid % P1 * aCoef(7) + bCoef(7)) % P1
      assert((h < P1 / 10000L * 2000L) == (split == "test"))
    }
  }

  test("keepBest: the cluster's canonical is the quality argmax, not min id") {
    // docs 1/2/3 are one near-dup cluster (same text ± repetition).
    // doc 1 (min id) is the REPETITIVE variant (low uniq ratio); doc 3
    // is the clean long one -> keepBest must pick 3 where min-id picks 1.
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, base + " spam spam spam spam spam spam"),
      (2L, base),
      (3L, base + " kilo lima mike november"),
      (9L, "totally unrelated text " + Seq.tabulate(8)(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.keepBest(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.length == 1, s"one cluster expected, got $got")
    val (cluster, keep, members, _, _) = got.head
    assert(cluster == 1L && members == 3L)
    assert(keep == 3L, s"canonical must be the clean doc 3, got $keep")
    // min-id convention would have chosen 1 — the difference under test
  }

  test("topPaths: hand-built trigram sequence counts") {
    val ts = (s: Long) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))
    // user 1: A B C A B C -> paths ABC, BCA, CAB, ABC
    val ev = Seq("A", "B", "C", "A", "B", "C").zipWithIndex.map {
      case (t, i) => (i.toLong, ts(i.toLong), t, 1L)
    }.toDF("event_id", "ts", "event_type", "user_id")
    val got = graft.ops.Events.topPaths(ev)
      .as[(String, String, String, Long)].collect().toSeq
    assert(got == Seq(("A", "B", "C", 2L), ("B", "C", "A", 1L),
      ("C", "A", "B", 1L)))
  }

  test("sourceOverlap: exact pair Jaccard; zero-overlap pairs absent") {
    val docs = Seq(
      (1L, "x y z", "a"), (2L, "y z w", "b"), (3L, "q", "c"))
      .toDF("doc_id", "text", "source")
    val got = graft.ops.TextAnalysis.sourceOverlap(docs)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    // a∩b = {y,z}: 2 of union 4 -> 5000 bp; c shares nothing -> no row
    assert(got == Seq(("a", "b", 3L, 3L, 2L, 4L, 5000L)))
  }

  test("freqSpectrum: hapax bin, log2 bands, exact milli shares") {
    // term freqs: a->5 (bin 2), b->2 (bin 1), c->1, d->1 (bin 0)
    // vocab=4, toks=9
    val docs = Seq(
      (1L, "a a a b c"),
      (2L, "a a b d")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.freqSpectrum(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 1L, 2L, 2L, 500L, 222L),  // hapaxes c,d
      (1L, 2L, 1L, 2L, 250L, 222L),  // b
      (2L, 4L, 1L, 5L, 250L, 555L))) // a
  }
}
