package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ext.{Dedup, ExtCaches, Multimodal, Similarity, TextOps}

/** Specs for the LLM-pipeline extension operators (SURVEY.md §7.6). */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens lowercases and splits on non-alphanumerics") {
    val r = Seq("Hello, World-42!").toDF("text")
      .select(TextOps.tokens(col("text"))).first().getSeq[String](0)
    assert(r == Seq("hello", "world", "42"))
  }

  test("shingles produces distinct 3-grams; short docs yield empty") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(TextOps.shingles(TextOps.tokens(col("text"))).as("sh"))
    val r = df.collect().map(_.getSeq[String](0))
    assert(r(0).toSet == Set("a b c", "b c d") && r(1).isEmpty)
  }

  test("tokenStats computes counts and ratios") {
    val r = TextOps.tokenStats(Seq("the the cat").toDF("text")).first()
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(r.getAs[Long]("n_distinct_tokens") == 2L)
    assert(r.getAs[Long]("total_token_chars") == 9L)
    assert(math.abs(r.getAs[Double]("type_token_ratio") - 2.0 / 3.0) < 1e-12)
  }

  test("adjacentPairs keeps occurrences in order; short docs yield empty") {
    val r = Seq("a b a b", "solo", "").toDF("text")
      .select(TextOps.adjacentPairs(TextOps.tokens(col("text"))).as("p"))
      .collect().map(_.getSeq[String](0))
    assert(r(0) == Seq("a b", "b a", "a b")) // repeats kept, document order
    assert(r(1).isEmpty && r(2).isEmpty)
  }

  test("applyMerge is greedy leftmost: runs merge at even offsets, no overlap") {
    val df = Seq("a a a", "x y x y", "a b a").toDF("text")
      .select(TextOps.applyMerge(TextOps.tokens(col("text")),
        lit("a"), lit("a")).as("m"))
    val r = df.collect().map(_.getSeq[String](0))
    assert(r(0) == Seq("a_a", "a"))     // [a,a,a]: merge (0,1), 2 left over
    assert(r(1) == Seq("x", "y", "x", "y")) // pair absent → unchanged
    assert(r(2) == Seq("a", "b", "a"))  // non-adjacent a's untouched
  }

  test("bpeMergeLoop: round 2's winner exists only because round 1 was APPLIED") {
    val df = Seq((1L, "b c b c b c")).toDF("doc_id", "text")
    val rows = TextOps.bpeMergeLoop(df, "doc_id", "text", 2)
      .orderBy("round").collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("pair"),
        r.getAs[Long]("n"), r.getAs[Long]("n_tokens_after")))
    assert(rows(0) == ((1L, "b c", 3L, 3L)))       // [b c b c b c] → [b_c b_c b_c]
    assert(rows(1) == ((2L, "b_c b_c", 2L, 2L)))   // → [b_c_b_c b_c]
    graft.ext.ExtCaches.clearCaches()
  }

  test("bpeEncode returns the encoded sequences; short docs pass through") {
    val df = Seq((1L, "b c b c b c"), (2L, "solo")).toDF("doc_id", "text")
    val r = TextOps.bpeEncode(df, "doc_id", "text", 2)
      .orderBy("id").collect()
      .map(x => (x.getAs[Long]("id"), x.getSeq[String](1)))
    assert(r(0) == ((1L, Seq("b_c_b_c", "b_c")))) // the x60 spec's corpus, encoded
    assert(r(1) == ((2L, Seq("solo"))))           // < 2 tokens: unchanged
    graft.ext.ExtCaches.clearCaches()
  }

  test("bigramLmScores: in-model text scores below max-surprise; unseen prefixes back off to fl2(N+1); base slice never scored") {
    // ids chosen so the md5 hash split at frac 0.5 puts 6,9,11 in base
    // and 1,2 in the held-out rest (deterministic; verified by the
    // assertions below — a flipped id would fail loudly)
    val docs = Seq(
      (6L, "a b a b a b"), (9L, "a b a b"), (11L, "a b c"),
      (1L, "a b a b"),        // pure in-model bigrams → low bits
      (2L, "zz qq zz qq"))    // unseen prefixes → max surprise
      .toDF("doc_id", "text")
    val r = TextOps.bigramLmScores(docs, "doc_id", "text", 0.5)
      .orderBy("id").collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[Long]("n_bigrams"),
        x.getAs[Long]("nll_bits"), x.getAs[Long]("bits_x16")))
    val byId = r.map(t => t._1 -> t).toMap
    assert(r.map(_._1).toSet == Set(1L, 2L),
      s"held-out set moved (hash split drifted): ${r.map(_._1).toSet}")
    val inModel = byId(1L); val ood = byId(2L)
    // base mass N = bigrams of docs 1,2,3 = 5+3+2 = 10 → max surprise
    // fl2(11) = 3 bits per OOD bigram
    assert(ood._2 == 3L && ood._3 == 9L && ood._4 == 48L,
      s"OOD doc should cost fl2(N+1)=3 bits per bigram: $ood")
    // in-model "a b"/"b a" are the corpus's dominant bigrams → cheaper
    // per bigram than the OOD backoff
    assert(inModel._4 < ood._4,
      s"in-model text must score below max surprise: $inModel vs $ood")
    graft.ext.ExtCaches.clearCaches()
  }

  test("qualityScore is in [0,1] and penalizes punctuation") {
    val r = TextOps.qualityScore(
      Seq("the quick brown fox and a dog", "!!!???###").toDF("text"))
      .select("quality_score").collect().map(_.getDouble(0))
    assert(r.forall(s => s >= 0.0 && s <= 1.0))
    assert(r(0) > r(1))
  }

  test("langId predicts by marker frequency with declaration-order ties") {
    val r = TextOps.langId(Seq("der hund ist und das", "the cat is of the")
        .toDF("text"))
      .select("predicted_lang").collect().map(_.getString(0))
    assert(r.toSeq == Seq("de", "en"))
  }

  test("repetitionStats: mode fraction and duplicate-bigram fraction by hand") {
    // "a b a b a": tokens=5, mode a×3 → 0.6;
    // bigrams = [a b, b a, a b, b a] → 4 total, 2 distinct → dup 0.5.
    val df = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "")).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_tokens") == 5L)
    assert(r(0).getAs[Long]("top_token_n") == 3L)
    assert(r(0).getAs[Double]("top_token_frac") == 0.6)
    assert(r(0).getAs[Long]("n_bigrams") == 4L)
    assert(r(0).getAs[Long]("n_distinct_bigrams") == 2L)
    assert(r(0).getAs[Double]("dup_bigram_frac") == 0.5)
    // no repeats: both fractions at their floor
    assert(r(1).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(math.abs(r(1).getAs[Double]("top_token_frac") - 1.0 / 3.0) < 1e-12)
    // empty doc: zero counts, zero ratios (no division blow-up)
    assert(r(2).getAs[Long]("n_tokens") == 0L)
    assert(r(2).getAs[Long]("top_token_n") == 0L)
    assert(r(2).getAs[Double]("top_token_frac") == 0.0)
    assert(r(2).getAs[Double]("dup_bigram_frac") == 0.0)
  }

  test("fingerprint equals min shingle md5 and is null for short docs") {
    val r = Seq("x y z w", "tiny").toDF("text")
      .select(TextOps.fingerprint(TextOps.tokens(col("text"))).as("fp"))
      .collect()
    assert(r(0).getString(0).matches("[0-9a-f]{32}") && r(1).isNullAt(0))
  }

  test("chunkTokens: stride geometry, full coverage, empty docs dropped") {
    // 11 tokens, size 5, stride 3 → starts 1,4,7,10 → 4 chunks, last len 2.
    val text = (1 to 11).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text), (2L, ""), (3L, "only")).toDF("doc_id", "text")
    val r = TextOps.chunkTokens(df, "doc_id", "text", chunkSize = 5, stride = 3)
      .orderBy("doc_id", "chunk_id").collect()
    val doc1 = r.filter(_.getAs[Long]("doc_id") == 1L)
    assert(doc1.map(_.getAs[Long]("chunk_id")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(doc1.map(_.getAs[Long]("chunk_tokens")).toSeq == Seq(5L, 5L, 5L, 2L))
    // every chunk's hash is a real md5; the empty doc contributes nothing,
    // the 1-token doc exactly one chunk of itself
    assert(r.forall(_.getAs[String]("chunk_hash").matches("[0-9a-f]{32}")))
    assert(!r.exists(_.getAs[Long]("doc_id") == 2L))
    val doc3 = r.filter(_.getAs[Long]("doc_id") == 3L)
    assert(doc3.length == 1 && doc3.head.getAs[Long]("chunk_tokens") == 1L)
    // coverage: non-overlap prefixes (stride tokens of each chunk, all of
    // the last) concatenate back to the token stream — nothing lost
    val n = 11; val starts = Seq(0, 3, 6, 9)
    assert(starts.last + doc1.last.getAs[Long]("chunk_tokens") == n)
  }

  test("tfSalienceTopTerms ranks frequent-here-rare-elsewhere terms first") {
    // "zebra" appears 3× in doc 1 only (tf=3, df=1 → salience 3.0);
    // "the" appears in all docs (df=3 → salience ≤ 2/3).
    val df = Seq(
      (1L, "zebra zebra zebra the cat"),
      (2L, "the dog runs"),
      (3L, "the bird sings")).toDF("doc_id", "text")
    val r = TextOps.tfSalienceTopTerms(df, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rnk").collect()
    val d1 = r.filter(_.getAs[Long]("doc_id") == 1L)
    assert(d1.head.getAs[String]("tok") == "zebra")
    assert(d1.head.getAs[Long]("tf") == 3L && d1.head.getAs[Long]("df") == 1L)
    assert(d1.head.getAs[Double]("salience") == 3.0)
    // every doc gets at most k rows, ranks are 1..k
    assert(r.groupBy(_.getAs[Long]("doc_id")).forall { case (_, rows) =>
      rows.length <= 2 && rows.map(_.getAs[Long]("rnk")).sorted.sameElements(
        (1L to rows.length.toLong))
    })
  }

  test("winnowFingerprints: shared-run guarantee, degenerate windows, short docs empty") {
    // k=3, win=3: any shared run of >= 5 tokens must share a fingerprint
    val shared = "alpha beta gamma delta epsilon" // 5-token run
    val df = Seq(
      (1L, s"one two $shared three"),
      (2L, s"$shared nine ten eleven twelve"),
      (3L, "alpha beta"),            // < k tokens -> empty set
      (4L, "alpha beta gamma"),      // m=1 < win -> single global-min window
      (5L, "unrelated words entirely disjoint from anything else")
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(df, "doc_id", "text", 3, 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty) // the guarantee
    assert(fps(3L).isEmpty)
    assert(fps(4L).size == 1)
    assert((fps(5L) intersect fps(1L)).isEmpty)  // no spurious collisions
    // selection is a subset of the doc's own k-gram hashes (soundness):
    // every fingerprint of doc 4 is the md5 of its single 3-gram
    assert(fps(4L).head.matches("[0-9a-f]{32}"))
  }

  test("scrubTerms masks whole words only and reports the audit triple") {
    val df = Seq(
      (1L, "the customer sat at the table"),
      (2L, "no blocked words here"),
      (3L, "tables are not a table")).toDF("doc_id", "text")
    val r = TextOps.scrubTerms(df, "doc_id", "text",
        Seq("customer", "table"), "<MASK>")
      .orderBy("doc_id").collect()
    assert(r.map(_.getAs[Long]("n_hits")).toSeq == Seq(2L, 0L, 1L))
    val expected1 = "the <MASK> sat at the <MASK>"
    assert(r(0).getAs[Long]("n_chars_scrubbed") == expected1.length.toLong)
    assert(r(0).getAs[String]("scrubbed_digest") ==
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(expected1.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    // untouched doc: digest is of the original text
    val expected3 = "tables are not a <MASK>" // "tables" ≠ \btable\b
    assert(r(2).getAs[Long]("n_chars_scrubbed") == expected3.length.toLong)
  }

  test("bpeMergeLoopChars: frequency-weighted within-word merges with </w> markers") {
    // words: low ×4, lower ×2 → symbol seqs [l o w </w>]×4, [l o w e r </w>]×2
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "low"))
      .toDF("doc_id", "text")
    val r = TextOps.bpeMergeLoopChars(docs, "doc_id", "text", 3)
      .orderBy("round").collect()
      .map(x => (x.getAs[Long]("round"), x.getAs[String]("pair"),
        x.getAs[Long]("n"), x.getAs[Long]("n_tokens_after")))
    // r1: "l o" and "o w" both weigh 6 → pair-asc tiebreak picks "l o";
    //     corpus mass 4·3 + 2·5 = 22
    // r2: the MERGED symbol wins ("l_o w", 6) → 4·2 + 2·4 = 16
    // r3: "l_o_w </w>" (4) — a word-final merge via the marker → 4·1 + 2·4 = 12
    assert(r.toSeq == Seq(
      (1L, "l o", 6L, 22L),
      (2L, "l_o w", 6L, 16L),
      (3L, "l_o_w </w>", 4L, 12L)))
    graft.ext.ExtCaches.clearCaches()
  }

  test("bpeEncodeChars returns the encoded vocabulary; trainer and tokenizer agree") {
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "low"))
      .toDF("doc_id", "text")
    val r = TextOps.bpeEncodeChars(docs, "doc_id", "text", 3)
      .orderBy("word").collect()
      .map(x => (x.getAs[String]("word"), x.getAs[Long]("freq"),
        x.getSeq[String](2).toList))
    // after the 3 merges the trainer spec pins (l o, l_o w, l_o_w </w>):
    // "low" collapses to ONE symbol (its </w> merge fired), "lower" keeps
    // the un-merged tail — the trained vocabulary a tokenizer freezes
    assert(r.toSeq == Seq(
      ("low", 4L, List("l_o_w_</w>")),
      ("lower", 2L, List("l_o_w", "e", "r", "</w>"))))
    graft.ext.ExtCaches.clearCaches()
  }

  test("bpeApplyVocab: frozen vocab runs forward; OOV words fall back to codepoints") {
    // train on docs 1-3 (the bpeEncodeChars spec's corpus), apply to an
    // UNSEEN doc mixing trained words with an out-of-vocabulary one
    val train = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "low"))
      .toDF("doc_id", "text")
    val vocab = TextOps.bpeEncodeChars(train, "doc_id", "text", 3)
    val unseen = Seq((10L, "low zebra lower"), (11L, "low low"))
      .toDF("doc_id", "text")
    val r = TextOps.bpeApplyVocab(unseen, "doc_id", "text",
        vocab.select("word", "t"))
      .orderBy("id").collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[Long]("n_words"),
        x.getAs[Long]("n_oov_words"), x.getAs[Long]("n_tokens"),
        x.getAs[String]("seq_digest")))
    // doc 10: low → [l_o_w_</w>] (1), zebra → OOV codepoints (6),
    //         lower → [l_o_w, e, r, </w>] (4) — word ORDER is preserved
    val doc10 = Seq("l_o_w_</w>",
      "z", "e", "b", "r", "a", "</w>",
      "l_o_w", "e", "r", "</w>").mkString(" ")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.toSeq == Seq(
      (10L, 3L, 1L, 11L, md5hex(doc10)),
      (11L, 2L, 0L, 2L, md5hex("l_o_w_</w> l_o_w_</w>"))))
    graft.ext.ExtCaches.clearCaches()
  }

  test("oovProbeVariant appends one id-derived word to every third doc only") {
    val docs = (1L to 12L).map(i => (i, "plain text")).toDF("doc_id", "text")
    val out = TextOps.oovProbeVariant(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("text"))
      .toMap
    val stuffed = out.filter(_._2 != "plain text")
    assert(stuffed.nonEmpty && stuffed.size < out.size,
      "the probe must stuff SOME docs and leave others untouched")
    stuffed.values.foreach(t =>
      assert(t.matches("plain text ov[0-9a-f]{8}"), t))
    assert(stuffed.values.toSeq.distinct.size == stuffed.size,
      "probe words are id-derived, so they must be pairwise distinct")
  }

  test("x113 gate corpus exercises BOTH the OOV fallback and the covered path") {
    // Round-15 advice: the probe word is collision-improbable, not
    // impossible — if a natural ov[0-9a-f]{8} token ever landed in the
    // base vocabulary, the hash gate would stay green with the fallback
    // path silently unexercised. This asserts coverage loss fails loudly.
    val r = graft.queries.Extensions
      .x113_bpe_apply_unseen(spark, "/root/testdata/sf0.001")
      .select("n_oov_words").collect().map(_.getLong(0))
    assert(r.count(_ > 0L) > 0, "no held-out doc exercised the OOV fallback")
    assert(r.count(_ == 0L) > 0, "no held-out doc exercised the fully-covered path")
    graft.ext.ExtCaches.clearCaches()
  }

  test("x115 composes: each stage thins the pool and the manifest bills LEARNED counts") {
    val dir = "/root/testdata/sf0.001"
    val q = graft.queries.Extensions
    val lm = q.x108_lm_perplexity_gate(spark, dir).collect()
    val keptIds = lm.filter(_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(keptIds.nonEmpty && keptIds.size < lm.length,
      "the LM gate must be a real partition of the held-out pool")
    val learned = q.x113_bpe_apply_unseen(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    val m = q.x115_curate_pack(spark, dir).collect()
    // the budget fill thins the LM-survivor pool; nothing outside it packs
    assert(m.nonEmpty && m.length < keptIds.size)
    m.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(keptIds(id), s"packed doc $id was not LM-kept")
      // billed in the encoder's counts, not whitespace words
      assert(r.getAs[Long]("n_tokens") == learned(id),
        s"doc $id manifest count != x113 learned count")
    }
    // prefix-fill respects the gated pool's learned-token budget
    val poolMass = learned.collect { case (id, n) if keptIds(id) => n }.sum
    val budget = math.ceil(poolMass * q.DsirTokenBudgetFrac).toLong
    val packedMass = m.map(_.getAs[Long]("n_tokens")).sum
    assert(packedMass <= budget && packedMass > 0,
      s"packed mass $packedMass must fill within budget $budget")
    graft.ext.ExtCaches.clearCaches()
  }

  test("char-BPE lower()-folds uppercase non-ASCII letters identically to the oracle's simple mapping") {
    // Round-15 advice: Spark lower() is Java full case mapping on
    // non-ASCII, DuckDB's is utf8proc simple mapping. On one-to-one
    // folds (Α→α, Ц→ц) they agree — pin that the fold actually happens
    // before word extraction (the x110b stuffing word is uppercase for
    // the same reason). Condition-sensitive folds (final sigma) remain
    // fenced out of gate corpora.
    val docs = Seq((1L, "ΑΒ日Ц ΑΒ日Ц"), (2L, "Αβ日ц")).toDF("doc_id", "text")
    val r = TextOps.bpeMergeLoopChars(docs, "doc_id", "text", 1)
      .collect().map(x => (x.getAs[String]("pair"), x.getAs[Long]("n")))
    // both spellings fold to the one word αβ日ц (freq 3): merges run on
    // lowered symbols only, all four pairs tie at 3, pair-asc picks α β
    assert(r.toSeq == Seq(("α β", 3L)))
    graft.ext.ExtCaches.clearCaches()
  }

  test("char-BPE trains on non-ASCII codepoints (the [a-z0-9] class dropped them)") {
    // three scripts in one word: codepoint split + within-word merges
    // must see every symbol (this corpus has NO ascii token at all)
    val docs = Seq((1L, "αβ日ц αβ日ц"), (2L, "αβ日ц")).toDF("doc_id", "text")
    val r = TextOps.bpeMergeLoopChars(docs, "doc_id", "text", 2)
      .orderBy("round").collect()
      .map(x => (x.getAs[Long]("round"), x.getAs[String]("pair"),
        x.getAs[Long]("n")))
    // freq("αβ日ц") = 3; all 4 adjacent pairs tie at 3 → pair-asc picks
    // "α β" (UTF-8 byte order), then the merged symbol recurses
    assert(r.toSeq == Seq((1L, "α β", 3L), (2L, "α_β 日", 3L)))
    graft.ext.ExtCaches.clearCaches()
  }

  test("byte-level BPE merges astral-plane letters the codepoint form fences out") {
    // 𝛼 (U+1D6FC, astral) = f0 9d 9b bc; ц = d1 86 → base symbols
    // f0 9d 9b bc d1 86 </w>, freq 3; all six pairs tie at 3, pair-asc
    // picks "86 </w>" (hex sorts before letters of later bytes), then
    // the remaining smallest "9b bc"
    val docs = Seq((1L, "𝛼ц 𝛼ц"), (2L, "𝛼ц")).toDF("doc_id", "text")
    val r = TextOps.bpeMergeLoopBytes(docs, "doc_id", "text", 2)
      .orderBy("round").collect()
      .map(x => (x.getAs[Long]("round"), x.getAs[String]("pair"),
        x.getAs[Long]("n"), x.getAs[Long]("n_tokens_after")))
    assert(r.toSeq == Seq(
      (1L, "86 </w>", 3L, 18L),
      (2L, "9b bc", 3L, 15L)))
    graft.ext.ExtCaches.clearCaches()
  }

  test("nonAsciiVariant stuffs every third doc with the repeated phrase") {
    val docs = (1L to 9L).map(i => (i, "base")).toDF("doc_id", "text")
    val out = TextOps.nonAsciiVariant(docs, "doc_id", "text", "αβ", 3)
      .collect().map(_.getAs[String]("text"))
    assert(out.count(_ == "base αβ αβ αβ") > 0)
    assert(out.count(_ == "base") > 0)
    assert(out.forall(t => t == "base" || t == "base αβ αβ αβ"))
  }

  test("packManifest over bpeApplyVocab bills packs in LEARNED token counts") {
    // the x114 composition on the bpeApplyVocab spec's corpus: after 3
    // merges "low" encodes to ONE symbol where whitespace counting
    // would bill 1 anyway, but "lower" bills 4 symbols vs 1 word — the
    // manifest MUST carry the encoder's counts, not the word counts
    val train = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "low"))
      .toDF("doc_id", "text")
    val vocab = TextOps.bpeEncodeChars(train, "doc_id", "text", 3)
    val unseen = Seq((10L, "low zebra lower"), (11L, "low low"))
      .toDF("doc_id", "text")
    val encoded = TextOps.bpeApplyVocab(unseen, "doc_id", "text",
      vocab.select("word", "t"))
    val m = graft.ext.Packing.packManifest(
        encoded.select(col("id").as("doc_id"), col("n_tokens")),
        "doc_id", col("n_tokens"), 8L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("packs_spanned")))
      .toMap
    // doc 10 = 11 BPE tokens (1 + 6 OOV-codepoint + 4), doc 11 = 2 —
    // vs 3 and 2 words: the 11 proves the learned counts flowed through
    assert(m(10L)._1 == 11L && m(11L)._1 == 2L, m.toString)
    // 11 tokens at ctxLen 8 must straddle a boundary wherever it starts
    assert(m(10L)._2 >= 2L, s"an 11-token doc cannot fit one 8-token pack: $m")
    graft.ext.ExtCaches.clearCaches()
  }

  test("dsirTopK keeps exactly the ceil budget, heaviest bit classes first") {
    val docs = Seq(
      (6L, "apple banana apple banana", true),
      (9L, "apple cherry banana cherry", true),
      (11L, "zebra yak zebra yak", false),
      (1L, "apple banana apple", true),
      (2L, "zebra yak yak", false),
      (3L, "apple apple banana banana", true),
      (4L, "yak zebra", false))
      .toDF("doc_id", "text", "is_target")
    val r = TextOps.dsirTopK(docs, "doc_id", "text", "is_target",
        0.5, 1024, 0.5)
      .collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[Long]("w_bits"),
        x.getAs[Boolean]("accepted")))
    val kept = r.filter(_._3)
    // budget: ceil(0.5 * pool) exactly
    assert(kept.length == math.ceil(r.length * 0.5).toInt,
      s"budget violated: ${kept.length} of ${r.length}")
    // without-replacement invariant: the selection is a prefix of the
    // (w_bits DESC, draw, id) order, so NO dropped doc can be strictly
    // heavier than ANY kept doc (the draw only breaks ties in-class)
    val minKept = kept.map(_._2).min
    val maxDropped = r.filter(!_._3).map(_._2).max
    assert(maxDropped <= minKept,
      s"a dropped doc outweighs a kept one: minKept=$minKept maxDropped=$maxDropped")
    graft.ext.ExtCaches.clearCaches()
  }

  test("dsirTokenBudget fills the prefix exactly: inclusive mass fits, next doc doesn't") {
    val docs = Seq(
      (6L, "apple banana apple banana", true),
      (9L, "apple cherry banana cherry", true),
      (11L, "zebra yak zebra yak", false),
      (1L, "apple banana apple", true),
      (2L, "zebra yak yak", false),
      (3L, "apple apple banana banana", true),
      (4L, "yak zebra", false))
      .toDF("doc_id", "text", "is_target")
    val r = TextOps.dsirTokenBudget(docs, "doc_id", "text", "is_target",
        0.5, 1024, 0.5)
      .collect()
      .map(x => (x.getAs[Long]("id"), x.getAs[Long]("w_bits"),
        x.getAs[Long]("draw"), x.getAs[Long]("n_tokens"),
        x.getAs[Boolean]("accepted")))
    val pool = r.map(_._4).sum
    val budget = math.ceil(pool * 0.5).toLong
    // replay the global prefix rule by hand: (w_bits DESC, draw, id)
    val order = r.sortBy(x => (-x._2, x._3, x._1))
    var cum = 0L
    order.foreach { x =>
      cum += x._4
      assert(x._5 == (cum <= budget),
        s"doc ${x._1}: inclusive mass $cum vs budget $budget, got ${x._5}")
    }
    // the partition is real: something kept, something dropped
    assert(r.exists(_._5) && r.exists(!_._5))
    graft.ext.ExtCaches.clearCaches()
  }

  test("dsirEnrichment cells equal the per-doc aggregation; rates and lift are NULL-safe") {
    // held-out docs (ids 1, 2 at frac 0.5) now carry labels: 1 target,
    // 2 not — the labels feed ONLY the audit, never the weights
    val docs = Seq(
      (6L, "apple banana apple banana", true),
      (9L, "apple cherry banana cherry", true),
      (11L, "zebra yak zebra yak", false),
      (1L, "apple banana apple", true),
      (2L, "zebra yak yak", false))
      .toDF("doc_id", "text", "is_target")
    // consistency at a thinning threshold: cells = hand-aggregation of
    // the gated per-doc resample over the same inputs
    val perDoc = TextOps.dsirResample(docs, "doc_id", "text", "is_target",
        0.5, 1024, 0L)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Boolean]("accepted"))
      .toMap
    val labels = Map(1L -> true, 2L -> false)
    val e = TextOps.dsirEnrichment(docs, "doc_id", "text", "is_target",
      0.5, 1024, 0L).collect()(0)
    val kept = perDoc.count(_._2)
    assert(e.getAs[Long]("n_kept") == kept.toLong)
    assert(e.getAs[Long]("n_dropped") == (2 - kept).toLong)
    assert(e.getAs[Long]("kept_target") ==
      perDoc.count { case (id, a) => a && labels(id) }.toLong)
    // all-kept threshold: the dropped-side rate and the lift are NULL,
    // not a division error
    val loose = TextOps.dsirEnrichment(docs, "doc_id", "text", "is_target",
      0.5, 1024, -100L).collect()(0)
    assert(loose.getAs[Long]("n_kept") == 2L &&
      loose.getAs[Long]("n_dropped") == 0L)
    assert(loose.getAs[Long]("kept_target") == 1L)
    assert(loose.getAs[Double]("kept_target_rate") == 0.5)
    assert(loose.isNullAt(loose.fieldIndex("dropped_target_rate")))
    assert(loose.isNullAt(loose.fieldIndex("lift")))
    graft.ext.ExtCaches.clearCaches()
  }

  test("dsirWeights: target-vocab held-out docs outweigh raw-vocab ones; base slice never weighed") {
    // same deterministic md5 split as the bigramLmScores spec: at frac
    // 0.5, ids 6,9,11 land in base, 1,2 in the held-out rest
    val docs = Seq(
      (6L, "apple banana apple banana", true),
      (9L, "apple cherry banana cherry", true),
      (11L, "zebra yak zebra yak", false),
      (1L, "apple banana apple", false),  // target-like text; label unused
      (2L, "zebra yak yak", false))       // raw-like text
      .toDF("doc_id", "text", "is_target")
    val r = TextOps.dsirWeights(docs, "doc_id", "text", "is_target", 0.5, 1024)
      .collect().map(x => x.getAs[Long]("id") ->
        (x.getAs[Long]("n_feats"), x.getAs[Long]("w_bits"),
          x.getAs[Long]("w_x16"))).toMap
    assert(r.keySet == Set(1L, 2L),
      s"held-out set moved (hash split drifted): ${r.keySet}")
    // doc 1's features are frequent in the TARGET model, doc 2's only in
    // the raw model — the importance direction DSIR exists to measure
    assert(r(1L)._2 > r(2L)._2,
      s"target-like doc must outweigh raw-like doc: ${r(1L)} vs ${r(2L)}")
    // unigrams + bigrams, with multiplicity: 3 tokens → 3 + 2 features
    assert(r(1L)._1 == 5L && r(2L)._1 == 5L)
    graft.ext.ExtCaches.clearCaches()
  }

  test("dsirResample: at/above-threshold docs keep surely; each bit below halves the hash budget") {
    val docs = Seq(
      (6L, "apple banana apple banana", true),
      (9L, "apple cherry banana cherry", true),
      (11L, "zebra yak zebra yak", false),
      (1L, "apple banana apple", false),
      (2L, "zebra yak yak", false))
      .toDF("doc_id", "text", "is_target")
    def run(t: Long) =
      TextOps.dsirResample(docs, "doc_id", "text", "is_target", 0.5, 1024, t)
        .collect().map(x => x.getAs[Long]("id") ->
          (x.getAs[Long]("w_bits"), x.getAs[Long]("shift"),
            x.getAs[Boolean]("accepted"))).toMap
    // threshold below every weight: shift 0 everywhere, all kept surely
    val loose = run(-100L)
    assert(loose.values.forall(v => v._2 == 0L && v._3), s"loose: $loose")
    // threshold far above: shift saturates at 16 → keep prob 2^-16
    // (u16 must be 0) — with these ids, nothing survives
    val tight = run(100L)
    assert(tight.values.forall(v => v._2 == 16L), s"tight: $tight")
    // the shift algebra itself: min(16, max(0, T - w_bits)) at T = 0
    val mid = run(0L)
    mid.foreach { case (_, (w, s, _)) =>
      assert(s == math.min(16L, math.max(0L, 0L - w)))
    }
    graft.ext.ExtCaches.clearCaches()
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "spark makes big data small again and fast too"),
    (1L, "spark makes big data small again and fast too"), // exact dup of 0
    (2L, "spark makes big data small again and quick too"), // near dup of 0
    (3L, "completely different content about nothing at all here")
  ).toDF("doc_id", "text")

  test("exactDupGroups finds the identical pair only") {
    val r = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(r.length == 1 && r(0).getAs[Long]("n_copies") == 2L)
    assert(r(0).getSeq[Long](2) == Seq(0L, 1L))
  }

  test("exactDupSummary counts removable rows") {
    val r = Dedup.exactDupSummary(docs, "text").first()
    assert(r.getAs[Long]("total_docs") == 4L)
    assert(r.getAs[Long]("distinct_docs") == 3L)
    assert(r.getAs[Long]("duplicate_docs") == 1L)
  }

  test("ngramJaccardPairs finds exact and near dups above threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq
    assert(pairs.contains((0L, 1L))) // identical → J = 1
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngramJaccardPairs dfCap: generous cap is a no-op, tight cap drops stop-shingle overlap") {
    def run(cap: Option[Int]) =
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5,
          dfCap = cap)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq
    val uncapped = run(None)
    assert(uncapped.nonEmpty)
    // No shingle's df exceeds the doc count, so a generous cap is inert.
    assert(run(Some(1000)) == uncapped)
    // cap=1 keeps only shingles unique to one doc — no joinable overlap
    // survives, and the capped output is a subset of the uncapped one.
    assert(run(Some(1)).isEmpty)
  }

  test("minhashLshPairs candidates verify to the same near-dup set") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq
    assert(pairs.contains((0L, 1L))) // identical docs always collide
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhashLshPairs hotBucketCap: generous cap is a no-op, tight cap drops hot buckets") {
    def run(cap: Option[Int]) =
      Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5,
          hotBucketCap = cap)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq
    val uncapped = run(None)
    // No bucket on this corpus exceeds the doc count, so the cap is inert.
    assert(run(Some(1000)) == uncapped)
    // cap=1 refuses every bucket with >1 member — exactly the buckets that
    // generate candidates — so the result must be empty, and the capped
    // output is always a subset of the uncapped one.
    assert(run(Some(1)).isEmpty)
  }

  test("connectedComponents labels every component by its smallest member") {
    // components: {1,2,3,4} (a 4-chain — needs >1 propagation round),
    // {10,11} and {20,21,22} (triangle)
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (11L, 10L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("duplicateClusters summarizes components with canonical ids") {
    val pairs = Seq((5L, 9L), (9L, 7L), (2L, 3L)).toDF("id_a", "id_b")
    val r = Dedup.duplicateClusters(pairs, "id_a", "id_b")
      .orderBy("canonical_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r == Seq((2L, 2L), (5L, 3L)))
  }

  test("simhash: identical docs hash equal; hamming 0 pair emitted") {
    val hashed = docs.select(col("doc_id"),
      Dedup.simhash(TextOps.tokens(col("text"))).as("simhash"))
    val h = hashed.orderBy("doc_id").collect().map(_.getLong(1))
    assert(h(0) == h(1))
    val pairs = Dedup.simhashPairs(hashed, "doc_id", "simhash", maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0L))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal to 0
    (2L, Array(2.0f, 0.0f, 0.0f, 0.0f)),   // parallel to 0
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f))). // antiparallel to 0
    toDF("vec_id", "embedding")

  test("quantized cosine: parallel=1, orthogonal=0, antiparallel=-1") {
    val r = Similarity.cosineAllPairsExact(vecs, "vec_id", "embedding", -2.0)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    assert(r((0L, 2L)) == 1.0)
    assert(r((0L, 1L)) == 0.0)
    assert(r((0L, 3L)) == -1.0)
  }

  test("LSH near-dup finds identical and near-identical vectors") {
    val dup = Seq(
      (0L, Array.fill(16)(0.5f)),
      (1L, Array.fill(16)(0.5f)),                    // exact duplicate of 0
      (2L, Array.fill(16)(0.5f).updated(3, 0.48f)),  // near-duplicate of 0
      (3L, Array.tabulate(16)(i => if (i % 2 == 0) 1f else -1f))) // unrelated
      .toDF("vec_id", "embedding")
    val r = Similarity.cosineNearDupPairs(dup, "vec_id", "embedding", 0.99,
        bands = 4, bitsPerBand = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("LSH near-dup output is a subset of exact all-pairs output") {
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.cosineAllPairsExact(e, "vec_id", "embedding", 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val lsh = Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(lsh.nonEmpty && lsh.subsetOf(exact), s"lsh=$lsh")
  }

  test("x59 within-cluster prune is exact inside clusters: equals the same-cluster slice of exact all-pairs") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.tables.Tables.embeddings(spark, dir)
    val assign = Similarity.nearestCentroidAssign(e, "vec_id", "label", "embedding")
      .select("id", "assigned_label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Similarity.cosineAllPairsExact(e, "vec_id", "embedding", 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val sameCluster = exact.filter { case (a, b) => assign(a) == assign(b) }
    val sem = Similarity.semDedupPairs(e, "vec_id", "label", "embedding", 0.4)
      .collect().map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSet
    // Exhaustive within the cluster: not just ⊆ exact, but EQUAL to the
    // same-cluster slice — the recall the banded x05 path cannot promise.
    assert(sem == sameCluster, s"sem=$sem sameCluster=$sameCluster")
  }

  test("x59 cluster cap: degenerate one-giant-cluster corpus stays banded, keeps duplicates, loses no under-cap semantics") {
    import spark.implicits._
    // One label ⇒ one centroid ⇒ EVERY vector lands in one cluster — the
    // boilerplate-crawl degenerate the round-8 verdict flagged: uncapped,
    // the within-cluster self-join is all-pairs quadratic.
    val n = 120
    val rows = (0 until n).map { i =>
      val base = Array.tabulate(64)(d =>
        math.sin(d * 1.7 + (i % 12)).toFloat)
      (i.toLong, 0L, base)
    } :+ ((n.toLong, 0L, Array.tabulate(64)(d =>
      math.sin(d * 1.7).toFloat)))  // sign-identical dup of i % 12 == 0
    val e = rows.toDF("vec_id", "label", "embedding")
    val uncapped = Similarity.semDedupPairs(e, "vec_id", "label",
        "embedding", 0.99)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    graft.ext.ExtCaches.clearCaches()
    val capped = Similarity.semDedupPairs(e, "vec_id", "label",
        "embedding", 0.99, maxClusterSize = Some(10))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    graft.ext.ExtCaches.clearCaches()
    // Soundness: the banded fallback verifies exactly, so it can only be
    // a subset of the exhaustive answer.
    assert(capped.subsetOf(uncapped), s"capped=$capped uncapped=$uncapped")
    // Recall where it matters: identical vectors agree on every sampled
    // sign coordinate, so they collide in every band — the cap can never
    // lose an exact duplicate. Vector n is identical to every i≡0 (mod
    // 12) vector; all its pairs must survive.
    val dupPairs = uncapped.filter { case (a, b) => b == n.toLong }
    assert(dupPairs.nonEmpty && dupPairs.subsetOf(capped),
      s"lost duplicate pairs: ${dupPairs -- capped}")
    // Under-cap clusters keep EXACT semantics: with the cap above the
    // cluster size the output is identical to uncapped.
    val cappedHigh = Similarity.semDedupPairs(e, "vec_id", "label",
        "embedding", 0.99, maxClusterSize = Some(n + 1))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(cappedHigh == uncapped)
    graft.ext.ExtCaches.clearCaches()
  }

  test("x72 Lloyd rounds: every round partitions the corpus; reruns are bit-deterministic") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.tables.Tables.embeddings(spark, dir)
    val n = e.count()
    def run() = {
      val r = Similarity.kmeansIterate(e, "vec_id", "label", "embedding", 3)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getString(3)))
      graft.ext.ExtCaches.clearCaches()
      r
    }
    val r1 = run()
    // mass conservation: each round's cells partition the corpus exactly
    (1 to 3).foreach { round =>
      val mass = r1.filter(_._1 == round).map(_._3).sum
      assert(mass == n, s"round $round: sum n_vecs $mass != corpus $n")
    }
    // round 1's assignment is nearestCentroidAssign's (same seed anchor,
    // same tScore): cell populations must match the x56 assignment
    val assignCounts = Similarity.nearestCentroidAssign(
        e, "vec_id", "label", "embedding")
      .groupBy(col("assigned_label")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.ext.ExtCaches.clearCaches()
    r1.filter(_._1 == 1L).foreach { case (_, cell, nv, _) =>
      assert(assignCounts(cell) == nv,
        s"cell $cell: round-1 $nv != assignment ${assignCounts(cell)}")
    }
    // determinism: the full (round, cell, n, digest) state reproduces
    assert(r1.toSet == run().toSet)
  }

  test("sampled-band LSH: sound (subset of exact), 100% recall on sign-identical vectors") {
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // Soundness: candidates are verified exactly, so any geometry's output
    // is a subset of the all-pairs set.
    val exact = Similarity.cosineAllPairsExact(e, "vec_id", "embedding", 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // (No nonEmpty assertion on this corpus: its pairs sit at moderate
    // cosines, where 16-bit bands are deliberately selective — recall is
    // asserted below on sign-identical vectors, which cannot be missed.)
    val sampled = Similarity.cosineNearDupPairsSampled(
        e, "vec_id", "embedding", 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(sampled.subsetOf(exact), s"sampled=$sampled")
    // Completeness on the pairs that matter most: sign-identical vectors
    // share every sampled coordinate, hence every band key — they can
    // never be missed, at any corpus size or seed.
    val dup = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.5f)),                     // exact duplicate of 0
      (2L, Array.tabulate(64)(i => 0.5f + i * 1e-4f)), // sign-identical near-dup
      (3L, Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f))) // unrelated
      .toDF("vec_id", "embedding")
    val r = Similarity.cosineNearDupPairsSampled(dup, "vec_id", "embedding", 0.99)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r == Set((0L, 1L), (0L, 2L), (1L, 2L)), r)
  }

  test("LSH near-dup hotBucketCap drops degenerate buckets") {
    // All-positive vectors: every row lands in the same band keys, so a
    // cap of 1 removes every bucket and no candidates survive.
    val dup = Seq((0L, Array.fill(8)(1f)), (1L, Array.fill(8)(1f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.cosineNearDupPairs(dup, "vec_id", "embedding", 0.0,
      bands = 2, bitsPerBand = 4, hotBucketCap = Some(1))
    assert(r.count() == 0L)
  }

  test("centroids are exact element-wise means, invariant to partitioning") {
    val df = Seq(
      (0, Seq(1.0f, -1.0f)), (0, Seq(3.0f, 1.0f)), // label 0 → (2.0, 0.0)
      (1, Seq(0.5f, 0.25f))).toDF("label", "vec")  // label 1 → itself
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.centroids(d, "label", "vec")
        .orderBy("label", "dim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
    val r = run(df)
    assert(r.map(t => (t._1, t._2, t._4)).toSeq ==
      Seq((0L, 0L, 2.0), (0L, 1L, 0.0), (1L, 0L, 0.5), (1L, 1L, 0.25)))
    // integer sums make the result identical under any repartitioning
    assert(run(df.repartition(7)).toSeq == r.toSeq)
  }

  test("survivor anti-join keeps exactly one canonical doc per cluster") {
    // the x23 shape: components over the pair graph, drop non-canonical
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val dropped = labels.filter(col("label") =!= col("v"))
      .select(col("v").as("doc_id"))
    val kept = docs.join(dropped, Seq("doc_id"), "left_anti")
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(1L, 4L, 5L)) // {1,2,3} collapse to 1
  }

  test("winnowPairs finds the shared-passage pair and only it") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, s"one two $shared"),
      (2L, s"$shared nine ten"),
      (3L, "totally different content with no overlap at all here")
    ).toDF("doc_id", "text")
    val r = Dedup.winnowPairs(df, "doc_id", "text", k = 3, win = 3,
        minShared = 1L).collect()
    assert(r.map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSeq ==
      Seq((1L, 2L)))
    assert(r.head.getAs[Long]("n_shared") >= 1L)
    // dfCap = 1 drops every fingerprint shared across documents
    // (boilerplate suppression), so no pair survives
    assert(Dedup.winnowPairs(df, "doc_id", "text", k = 3, win = 3,
      minShared = 1L, dfCap = Some(1)).collect().isEmpty)
  }

  test("clusterRepresentatives keeps the best-scored member, smallest id on ties") {
    // cluster {1,2,3}: scores 0.5, 0.9, 0.9 → rep 2 (tie broken by id);
    // cluster {10,11}: scores 0.1, 0.7 → rep 11; singleton 5 excluded.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val scored = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (10L, 0.1),
      (11L, 0.7), (5L, 1.0)).toDF("doc_id", "quality_score")
    val r = Dedup.clusterRepresentatives(labels, scored, "doc_id", "quality_score")
      .orderBy("cluster_id").collect()
    assert(r.map(x => (x.getAs[Long]("cluster_id"), x.getAs[Long]("n_members"),
      x.getAs[Long]("rep_doc_id"), x.getAs[Double]("rep_score"))).toSeq ==
      Seq((1L, 3L, 2L, 0.9), (10L, 2L, 11L, 0.7)))
  }

  test("incrementalDedup: base hits dropped, first-wins within batch, nulls pass through") {
    val base = Seq((1L, "aa"), (2L, "bb")).toDF("id", "d")
    val incoming = Seq(
      (10L, "bb"),   // dup of base → dropped
      (11L, "cc"),   // new digest, smallest id → survives
      (12L, "cc"),   // within-batch dup of 11 → dropped
      (13L, null.asInstanceOf[String]),  // unfingerprintable → passes
      (14L, null.asInstanceOf[String]))  // …and does NOT collapse with 13
      .toDF("id", "d")
    val r = Dedup.incrementalDedup(base, incoming, "id", col("d"))
      .orderBy("doc_id").collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(11L, 13L, 14L))
    assert(r.head.getAs[String]("digest") == "cc")
    assert(r(1).isNullAt(1) && r(2).isNullAt(1))
  }

  test("weightedMixtureSample: keep-all, drop-unlisted, and nested-subset properties") {
    import graft.ext.Sampling
    val df = spark.range(2000).toDF("id")
      .withColumn("src", concat(lit("s"), (col("id") % 4).cast("string")))
    def kept(w: Map[String, Double]): Set[Long] =
      Sampling.weightedMixtureSample(df, "id", "src", w)
        .select("id").collect().map(_.getLong(0)).toSet
    val full = kept(Map("s0" -> 1.0, "s1" -> 0.5))
    // weight 1.0 keeps the whole stratum; unlisted strata vanish
    assert(full.count(_ % 4 == 0) == 500)
    assert(full.forall(id => id % 4 == 0 || id % 4 == 1))
    // halving a stratum's weight keeps a strict subset of its rows
    val half = kept(Map("s0" -> 1.0, "s1" -> 0.25))
    val (s1full, s1half) = (full.filter(_ % 4 == 1), half.filter(_ % 4 == 1))
    assert(s1half.subsetOf(s1full) && s1half.size < s1full.size && s1half.nonEmpty)
  }

  test("budgetBuckets keeps best bins first and includes the budget-crossing bin") {
    import graft.ext.Sampling
    // buckets (score·10): 9→30 tokens, 8→40, 5→50, 2→100.
    // budget 80: bin 9 (cum 30) kept, bin 8 (cum 70) kept, bin 5 (cum
    // 120, crosses) kept, bin 2 (cum before = 120 ≥ 80) dropped.
    val df = Seq(
      (0.95, 30L), (0.85, 25L), (0.85, 15L), (0.55, 50L), (0.25, 100L))
      .toDF("score", "w")
    val r = Sampling.budgetBuckets(df, col("score"), col("w"),
        budget = 80L, buckets = 10)
      .orderBy(desc("bucket")).collect()
    assert(r.map(_.getAs[Long]("bucket")).toSeq == Seq(9L, 8L, 5L))
    assert(r.map(_.getAs[Long]("cum_tokens")).toSeq == Seq(30L, 70L, 120L))
    assert(r.map(_.getAs[Long]("n_docs")).toSeq == Seq(1L, 2L, 1L))
  }

  test("capPerGroup keeps exactly the cap best rows per group, all of small groups") {
    import graft.ops.TopK
    // group g0: scores 100,99,…; group g1: 2 rows only
    val df = (0 until 10).map(i => ("g0", i.toLong, (100 - i).toDouble)) ++
      Seq(("g1", 100L, 5.0), ("g1", 101L, 9.0))
    val d = df.toDF("src", "id", "score")
    val r = TopK.perGroup(d, Seq(col("src")),
        Seq(desc("score"), col("id")), k = 3)
      .orderBy("src", "rnk").collect()
    val g0 = r.filter(_.getAs[String]("src") == "g0")
    val g1 = r.filter(_.getAs[String]("src") == "g1")
    // cap binds on the big group and keeps the TOP scores; small groups
    // pass through whole; ranks are 1..n
    assert(g0.map(_.getAs[Long]("id")).toSeq == Seq(0L, 1L, 2L))
    assert(g1.map(_.getAs[Long]("id")).toSeq == Seq(101L, 100L))
    assert(r.map(_.getAs[Long]("rnk")).forall(_ <= 3))
  }

  test("x26 pipeline gate: audit columns prove every stage fired") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.tables.Tables.documents(spark, dir)
    val total = docs.count()
    val report = graft.queries.Extensions.x26_pipeline_gate(spark, dir)
      .collect()
    // one row per metadata language present in the corpus, none invented
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(report.map(_.getAs[String]("lang")).toSet.subsetOf(langs))
    // the gates actually dropped something, but not everything
    val kept = report.map(_.getAs[Long]("n_docs")).sum
    assert(kept > 0 && kept < total)
    // the quality gate is a real lower bound on the surviving corpus
    assert(report.forall(_.getAs[Double]("min_quality") >=
      graft.queries.Extensions.QualityGate))
    graft.ext.ExtCaches.clearCaches()
  }

  test("bruteForceTopK ranks by cosine with id tiebreak, excluding self") {
    val r = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0L),
        "vec_id", "embedding", k = 3)
      .orderBy("rnk").collect().map(x => (x.getAs[Long]("c_id"), x.getAs[Long]("rnk")))
    assert(r.toSeq == Seq((2L, 1L), (1L, 2L), (3L, 3L)))
  }

  test("ivfTopK probes only the query's sign bucket") {
    val r = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 3, bits = 4)
    // bucket of v0 = "1111" (0 quantizes to >= 0); v3 is in "0111" → excluded
    val ids = r.collect().map(_.getAs[Long]("c_id")).toSet
    assert(!ids.contains(3L))
    assert(ids.contains(2L))
  }

  test("knnGraph: directed per-node top-k, cosine-ordered, self-free") {
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = 3
    val g = Similarity.knnGraph(e, "vec_id", "embedding", k).collect()
    assert(g.nonEmpty)
    val byNode = g.groupBy(_.getAs[Long]("src_id"))
    byNode.foreach { case (src, edges) =>
      // no self-edges, at most k edges, ranks 1..|edges|
      assert(edges.forall(_.getAs[Long]("nbr_id") != src))
      assert(edges.length <= k)
      val byRank = edges.sortBy(_.getAs[Long]("rnk"))
      assert(byRank.map(_.getAs[Long]("rnk")).toSeq == (1L to edges.length).toSeq)
      // cosine non-increasing in rank (id tiebreak never reorders cosine)
      val cos = byRank.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    graft.ext.ExtCaches.clearCaches()
  }

  test("knnGraph: sign-identical duplicates are each other's rank-1 neighbor") {
    val dup = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.5f)),                      // exact duplicate of 0
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)),
      (3L, Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)))
      .toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(dup, "vec_id", "embedding", k = 1).collect()
      .map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("nbr_id"), r.getAs[Long]("rnk")))
      .toSet
    // each duplicate pair finds its twin at rank 1 (cosine 1.0 beats any
    // cross-pair candidate that happens to share a band)
    assert(g.contains((0L, 1L, 1L)) && g.contains((1L, 0L, 1L)))
    assert(g.contains((2L, 3L, 1L)) && g.contains((3L, 2L, 1L)))
    graft.ext.ExtCaches.clearCaches()
  }

  test("x81 mutual-kNN clusters: duplicate groups cluster, mutuality prunes one-way edges") {
    // two sign-identical duplicate pairs + two unrelated singletons: the
    // duplicates are each other's rank-1 (mutual); the singletons' best
    // candidates are not reciprocated at k=1, so no spurious cluster.
    val dup = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)),
      (3L, Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)))
      .toDF("vec_id", "embedding")
    // inline twin of the registry composition at k=1 over this corpus
    val g = Similarity.knnGraph(dup, "vec_id", "embedding", k = 1)
      .select(col("src_id"), col("nbr_id"))
    val fwd = g.filter(col("src_id") < col("nbr_id"))
      .select(col("src_id").as("id_a"), col("nbr_id").as("id_b"))
    val rev = g.filter(col("src_id") > col("nbr_id"))
      .select(col("nbr_id").as("id_a"), col("src_id").as("id_b"))
    val mutual = fwd.join(rev, Seq("id_a", "id_b"), "left_semi")
    val clusters = graft.ext.Dedup.clusterSummary(
        graft.ext.Dedup.connectedComponents(mutual, "id_a", "id_b"))
      .collect().map(r =>
        r.getAs[Long]("canonical_id") -> r.getAs[Long]("n_members")).toMap
    assert(clusters == Map(0L -> 2L, 2L -> 2L))
    graft.ext.ExtCaches.clearCaches()
  }

  test("knnGraph: hotBucketCap drops degenerate buckets") {
    val dup = Seq((0L, Array.fill(64)(1f)), (1L, Array.fill(64)(1f)),
        (2L, Array.fill(64)(1f)))
      .toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(dup, "vec_id", "embedding", k = 2,
        hotBucketCap = Some(2))
      .collect()
    assert(g.isEmpty) // every band bucket holds 3 > cap rows
    graft.ext.ExtCaches.clearCaches()
  }

  test("x89/x91: the IVF graph shares x78's shape and beats the banding's recall by decades") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.tables.Tables.embeddings(spark, dir)
    val n = e.count()
    val k = graft.queries.Extensions.KnnGraphK
    val g = graft.queries.Extensions.x89_knn_graph_ivf(spark, dir).collect()
    // same per-node contract as knnGraph: self-free, <= k, dense ranks,
    // cosine non-increasing
    g.groupBy(_.getAs[Long]("src_id")).foreach { case (src, edges) =>
      assert(edges.forall(_.getAs[Long]("nbr_id") != src))
      assert(edges.length <= k)
      val byRank = edges.sortBy(_.getAs[Long]("rnk"))
      assert(byRank.map(_.getAs[Long]("rnk")).toSeq == (1L to edges.length).toSeq)
      val cos = byRank.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    // nprobe cells of the corpus always hold >= k candidates here, so the
    // graph is complete: exactly n*k edges
    assert(g.length == n * k)
    val audit = graft.queries.Extensions
      .x91_knn_graph_ivf_recall(spark, dir).collect()
    assert(audit.length == n)
    val (hits, tot) = (audit.map(_.getAs[Long]("hits_ivf")).sum,
      audit.map(_.getAs[Long]("n_exact")).sum)
    // the round-11 pairing: banded recall ~1% (x85), IVF-probed ~70-75%.
    // Pin the ordering loosely so a corpus-regime change fails loudly.
    assert(hits > tot / 2, s"IVF graph recall collapsed: $hits/$tot")
    graft.ext.ExtCaches.clearCaches()
  }

  test("x93/x94: shortlist graph dominates nothing it shouldn't — per-node hits_sq8 <= hits_ivf") {
    // Provable, not statistical: any probed candidate in the GLOBAL
    // top-k is necessarily in x89's local top-k (k better probed
    // candidates would themselves be global top-k), and x93's top-k is
    // drawn from a SHORTLIST of the same probed set — so per node the
    // SQ8 path can only lose exact edges, never gain them.
    val dir = "/root/testdata/sf0.001"
    val ivf = graft.queries.Extensions
      .x91_knn_graph_ivf_recall(spark, dir).collect()
      .map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("hits_ivf")).toMap
    val sq8 = graft.queries.Extensions
      .x94_knn_graph_ivf_sq8_recall(spark, dir).collect()
      .map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("hits_ivf_sq8")).toMap
    assert(ivf.keySet == sq8.keySet)
    sq8.foreach { case (node, h8) =>
      assert(h8 <= ivf(node), s"node $node: sq8 $h8 > exact-rank ${ivf(node)}")
    }
    // and the measured round-11 fact: the shortlist loses almost nothing
    val (t8, ti) = (sq8.values.sum, ivf.values.sum)
    assert(ti - t8 <= ti / 20, s"shortlist loss blew up: $t8 vs $ti")
    graft.ext.ExtCaches.clearCaches()
  }

  test("x85 recall audit: one row per node, subset arithmetic, and the banding finding") {
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = e.count()
    val r = graft.queries.Extensions
      .x85_knn_graph_recall(spark, "/root/testdata/sf0.001").collect()
    assert(r.length == n, "every node audited")
    r.foreach { row =>
      val (ne, h, rec) = (row.getAs[Long]("n_exact"),
        row.getAs[Long]("hits_banded"), row.getAs[Double]("recall_at_k"))
      assert(ne == math.min(graft.queries.Extensions.KnnGraphK.toLong, n - 1))
      assert(h >= 0L && h <= ne, "hits must be a subset count")
      assert(rec == h.toDouble / ne.toDouble)
    }
    // the round-11 finding this audit exists to pin: the 16x16 sampled
    // banding is a near-dup candidate generator, not a generic kNN
    // builder — on this corpus (true top-3 cosines 0.25-0.60) it keeps
    // under 10% of true edges. If this ever FAILS upward, the corpus
    // changed regime and the x81/x82 inheritance note needs remeasuring.
    val (hits, tot) = (r.map(_.getAs[Long]("hits_banded")).sum,
      r.map(_.getAs[Long]("n_exact")).sum)
    assert(hits < tot / 10, s"banding recall jumped: $hits/$tot")
    graft.ext.ExtCaches.clearCaches()
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._
  import Multimodal.{DecodedImage, MediaRow}

  // a 3×2 test card whose RGB bytes are all distinct — any channel swap,
  // row flip, or padding slip changes the round-trip
  private val card = DecodedImage(3, 2,
    Array.tabulate[Byte](18)(i => (i * 11 + 5).toByte))

  test("PPM round-trips: header parse, maxval check, raster copy") {
    val p = Multimodal.encodePpm(card)
    assert(new String(p.take(9), "US-ASCII") == "P6\n3 2\n25") // header prefix
    val d = Multimodal.decodeImage(p)
    assert(d.width == 3 && d.height == 2)
    assert(d.rgb.toSeq == card.rgb.toSeq)
  }

  test("PPM decode tolerates comments and extra whitespace in the header") {
    val raster = card.rgb
    val header = "P6 # a comment\n 3\t2 #dims\n255\n".getBytes("US-ASCII")
    val d = Multimodal.decodeImage(header ++ raster)
    assert(d.width == 3 && d.height == 2 && d.rgb.toSeq == raster.toSeq)
  }

  test("PNG round-trips bit-exactly through the JDK codec (x14b)") {
    val p = Multimodal.encodePng(card)
    // real PNG container: 8-byte signature
    assert((p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G')
    // lossless: every decoded byte equals the source raster
    val d = Multimodal.decodePng(p)
    assert(d.width == 3 && d.height == 2)
    assert(d.rgb.toSeq == card.rgb.toSeq)
    // and the shared dispatcher routes on the PNG magic
    val viaDispatch = Multimodal.decodeImage(p)
    assert(viaDispatch.rgb.toSeq == card.rgb.toSeq)
  }

  test("PNG histogram path equals the raw-raster histogram on the same field (x14b)") {
    // the gate's cross-engine claim, checked in-engine: the compressed
    // round trip must recover exactly the pixels the formula generates
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val viaPng = Multimodal.documentPngHistogram(spark, docs)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("bucket").toLong, r.getAs[Long]("count"))).toSet
    val viaRaw = Multimodal.documentPixelHistogram(spark, docs)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("bucket").toLong, r.getAs[Long]("count"))).toSet
    assert(viaPng == viaRaw)
  }

  test("BMP round-trips: bottom-up rows flipped, BGR swapped, padding stripped") {
    // w=3 → 9 pixel bytes per row padded to 12: the padding branch runs
    val b = Multimodal.encodeBmp(card)
    assert(b(0) == 'B' && b(1) == 'M')
    assert(b.length == 54 + 2 * 12)
    // file row 0 is IMAGE row 1 (bottom-up), stored BGR: first stored
    // byte = blue of pixel (x=0, y=1) = rgb[(1*3+0)*3 + 2]
    assert(b(54) == card.rgb(11))
    val d = Multimodal.decodeImage(b)
    assert(d.width == 3 && d.height == 2)
    assert(d.rgb.toSeq == card.rgb.toSeq)
  }

  test("decodeImage fails loudly on unknown magic") {
    val e = intercept[IllegalArgumentException] {
      Multimodal.decodeImage(Array[Byte](0x47, 0x49, 0x46)) // "GIF"
    }
    assert(e.getMessage.contains("magic"))
  }

  test("imagesFromDocuments → extractFeatures: decoded histogram matches the pixel formula") {
    val docs = Seq((0L, "x"), (1L, "y"), (2L, "z")).toDF("doc_id", "text")
    val media = Multimodal.imagesFromDocuments(docs)
    val rows = media.collect().sortBy(_.doc_id)
    assert(rows.map(_.format).toSeq == Seq("ppm", "bmp", "ppm"))
    // container sizes are arithmetic: PPM 9+digits(w)+digits(h)+3wh,
    // BMP 54 + h * paddedRow
    rows.foreach { r =>
      val (w, h) = (Multimodal.imageWidth(r.doc_id), Multimodal.imageHeight(r.doc_id))
      val expected =
        if (r.format == "ppm") 9 + w.toString.length + h.toString.length + 3 * w * h
        else 54 + h * ((3 * w + 3) / 4 * 4)
      assert(r.n_bytes == expected.toLong, s"doc ${r.doc_id}")
    }
    // the engine's decode-path histogram == the analytic formula's
    val got = Multimodal.extractFeatures(media).collect()
      .groupBy(_.doc_id).view.mapValues(
        _.map(f => f.bucket -> f.count).toMap).toMap
    val want = rows.map { r =>
      val (w, h) = (Multimodal.imageWidth(r.doc_id), Multimodal.imageHeight(r.doc_id))
      r.doc_id -> (0 until w * h).groupBy { i =>
        Multimodal.lumaBucket(
          (r.doc_id * 37 + (3 * i) * 101).toInt % 256,
          (r.doc_id * 37 + (3 * i + 1) * 101).toInt % 256,
          (r.doc_id * 37 + (3 * i + 2) * 101).toInt % 256)
      }.view.mapValues(_.size.toLong).toMap
    }.toMap
    assert(got == want)
  }

  test("resizeImage area-averages blocks and re-encodes in the arriving format") {
    // 2×2 solid quadrants → factor 2 → one pixel holding the average
    val img = DecodedImage(2, 2, Array[Byte](
      0, 0, 0, 40, 40, 40,
      80, 80, 80, 120, 120, 120))
    val media = Seq(
      MediaRow(1L, "ppm", 0L, Multimodal.encodePpm(img)),
      MediaRow(2L, "bmp", 0L, Multimodal.encodeBmp(img))).toDS()
    val r = Multimodal.resizeImage(media, 2).collect().sortBy(_.doc_id)
    assert(r(0).payload.take(2).toSeq == Seq[Byte]('P', '6'))
    assert(r(1).payload.take(2).toSeq == Seq[Byte]('B', 'M')) // format kept
    r.foreach { m =>
      val d = Multimodal.decodeImage(m.payload)
      assert(d.width == 1 && d.height == 1)
      assert(d.rgb.toSeq == Seq[Byte](60, 60, 60)) // (0+40+80+120)/4
      assert(m.n_bytes == m.payload.length.toLong)
    }
    // edge blocks average their remainder: 3×1 at factor 2 → dims 2×1,
    // second output pixel = the lone remainder column
    val edge = DecodedImage(3, 1, Array[Byte](10, 10, 10, 30, 30, 30, 99, 99, 99))
    val e = Multimodal.resizeImage(
      Seq(MediaRow(3L, "ppm", 0L, Multimodal.encodePpm(edge))).toDS(), 2)
      .collect()(0)
    assert(Multimodal.decodeImage(e.payload).rgb.toSeq ==
      Seq[Byte](20, 20, 20, 99, 99, 99))
  }

  test("sampleFrames parses concatenated P6 frames and keeps every stride-th") {
    def frame(v: Byte) = Multimodal.encodePpm(
      DecodedImage(1, 1, Array[Byte](v, v, v)))
    val video = frame(1) ++ frame(2) ++ frame(3) ++ frame(4) ++ frame(5)
    val media = Seq(MediaRow(9L, "ppm-stream", video.length.toLong, video)).toDS()
    val frames = Multimodal.sampleFrames(media, stride = 2)
      .collect().sortBy(_._2)
    assert(frames.map(_._2).toSeq == Seq(0, 2, 4))
    assert(frames.map(_._3.head).toSeq == Seq[Byte](1, 3, 5))
  }
}

/** Query-level checks for the snapshot-CDC diff (x37): the change
  * classifier's invariants, independent of the oracle hash gate. */
class CdcSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("x37 classes are consistent: inserts new-only, deletes old-only, updates shifted by the delta") {
    import graft.queries.Extensions
    val r = Extensions.x37_snapshot_cdc(spark, dir).collect()
    val byType = r.groupBy(_.getAs[String]("change_type"))
    // every class fires at the smallest tested scale
    assert(Set("insert", "delete", "update").subsetOf(byType.keySet))
    assert(byType("insert").forall(x =>
      x.isNullAt(x.fieldIndex("old_price")) && !x.isNullAt(x.fieldIndex("new_price"))))
    assert(byType("delete").forall(x =>
      !x.isNullAt(x.fieldIndex("old_price")) && x.isNullAt(x.fieldIndex("new_price"))))
    assert(byType("update").forall(x =>
      x.getAs[Double]("new_price") == x.getAs[Double]("old_price") + Extensions.CdcPriceDelta))
    // the diff never emits an unchanged key
    assert(!byType.contains("unchanged"))
  }

  test("applyChanges: insert adds, delete drops, update replaces, absent passes through") {
    import spark.implicits._
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val cdc = Seq(
      (4L, "insert", null.asInstanceOf[java.lang.Double], java.lang.Double.valueOf(40.0)),
      (2L, "delete", java.lang.Double.valueOf(20.0), null.asInstanceOf[java.lang.Double]),
      (3L, "update", java.lang.Double.valueOf(30.0), java.lang.Double.valueOf(35.0)))
      .toDF("k", "change_type", "old_v", "new_v")
    val out = graft.ops.Cdc.applyChanges(base, cdc, "k", "v", "new_v")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    assert(out == Map(1L -> 10.0, 3L -> 35.0, 4L -> 40.0))
  }

  test("x58 round-trip in-engine: apply(v1, x37 diff) equals v2 built directly") {
    import graft.queries.Extensions
    import org.apache.spark.sql.functions._
    val o = graft.tables.Tables.orders(spark, dir)
    val k = col("o_orderkey")
    // v2 built directly — the same derivation the DuckDB oracle uses.
    val v2 = o.filter(graft.ext.Sampling.saltedHashPredicate(k, "b", Extensions.CdcSnapFrac))
      .select(k, when(
        graft.ext.Sampling.saltedHashPredicate(k, "u", Extensions.CdcTouchFrac),
        col("o_totalprice") + Extensions.CdcPriceDelta)
        .otherwise(col("o_totalprice")).as("price"))
    val applied = Extensions.x58_cdc_apply(spark, dir)
    assert(applied.count() == v2.count())
    assert(applied.except(v2).isEmpty && v2.except(applied).isEmpty)
  }
}

/** x44 sequence packing: manifest invariants a loader depends on, checked
  * structurally (the oracle hash gate proves value equality; these prove
  * the manifest MEANS what it claims). */
class PackingSpec extends SparkSpec {
  import spark.implicits._
  import graft.ext.Packing

  private val ctx = 10L
  // token counts chosen to force every shape within one shard: exact
  // boundary landings, straddles, and multi-pack spans
  private def manifest = Packing.packManifest(
    Seq((1L, 4L), (2L, 6L), (3L, 25L), (4L, 3L), (5L, 0L))
      .toDF("id", "toks"),
    "id", col("toks"), ctx, shardHexChars = 1)

  test("manifest conserves the token stream: each doc starts where the previous ends, zero-token docs dropped") {
    val rows = manifest.collect()
    assert(!rows.exists(_.getAs[Long]("id") == 5L)) // 0-token doc excluded
    rows.groupBy(_.getAs[String]("shard")).foreach { case (_, docs) =>
      val inOrder = docs.sortBy(_.getAs[Long]("id"))
      val starts = inOrder.map(_.getAs[Long]("start_offset")).toSeq
      val expected = inOrder.map(_.getAs[Long]("n_tokens")).toSeq
        .scanLeft(0L)(_ + _).init
      assert(starts == expected, s"stream has gaps/overlaps: $starts vs $expected")
    }
  }

  test("pack geometry: pack_first/offset/span agree with ctxLen arithmetic") {
    manifest.collect().foreach { r =>
      val (start, n) = (r.getAs[Long]("start_offset"), r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("pack_first") == start / ctx)
      assert(r.getAs[Long]("offset_in_pack") == start % ctx)
      assert(r.getAs[Long]("offset_in_pack") < ctx)
      assert(r.getAs[Long]("packs_spanned") == (start + n - 1) / ctx - start / ctx + 1)
    }
  }

  test("packSummary: pack counts and tail remainders match the manifest streams") {
    val m = manifest
    val summary = Packing.packSummary(m, ctx).collect()
      .map(r => r.getAs[String]("shard") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("stream_tokens"),
         r.getAs[Long]("n_packs"), r.getAs[Long]("tail_tokens"))).toMap
    m.collect().groupBy(_.getAs[String]("shard")).foreach { case (shard, docs) =>
      val total = docs.map(_.getAs[Long]("n_tokens")).sum
      val (nDocs, streamTokens, nPacks, tail) = summary(shard)
      assert(nDocs == docs.length && streamTokens == total)
      assert(nPacks == (total - 1) / ctx + 1)
      assert(tail == total % ctx)
    }
  }

  test("determinism: appending documents never moves already-packed ones") {
    val base = Seq((1L, 4L), (2L, 6L), (3L, 25L)).toDF("id", "toks")
    val appended = Seq((1L, 4L), (2L, 6L), (3L, 25L), (100L, 7L), (101L, 9L))
      .toDF("id", "toks")
    def place(df: org.apache.spark.sql.DataFrame) =
      Packing.packManifest(df, "id", col("toks"), ctx)
        .collect().map(r => r.getAs[Long]("id") ->
          (r.getAs[String]("shard"), r.getAs[Long]("start_offset"))).toMap
    val before = place(base)
    val after = place(appended)
    // append-only stability requires appended ids to sort after existing
    // ones within their shard — doc ids are ingest-monotonic by contract
    before.foreach { case (id, placement) => assert(after(id) == placement) }
  }
}

/** x45 bloom-prefiltered decontamination: the bloom must be invisible in
  * the exact output, and the probe must never produce false negatives. */
class BloomPruneSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.graftfn.BloomPrune

  test("mightContain has no false negatives over the aggregated key set") {
    val keys = (0 until 2000).map(i => s"key_$i").toDF("k")
    val bloom = keys.agg(BloomPrune.bloomAgg(col("k"), 4096L).as("bloom"))
    val misses = keys.filter(!BloomPrune.mightContain(bloom, col("k"))).count()
    assert(misses == 0L, s"bloom dropped $misses present keys")
  }

  test("x45 output is bit-identical to x28 (bloom prunes, never changes the answer)") {
    val dir = "/root/testdata/sf0.001"
    import graft.queries.Extensions
    val exact = Extensions.x28_decontamination(spark, dir).collect().toSeq
    val bloomed = Extensions.x45_decontamination_bloom(spark, dir).collect().toSeq
    assert(bloomed == exact)
    graft.ext.ExtCaches.clearCaches()
  }
}

/** x47 GramMatrix: the custom aggregate's contract, hand-checked small
  * (the oracle hash gate proves corpus-level equality; these prove the
  * buffer arithmetic, the merge path, and the failure modes). */
class GramMatrixSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.graftfn.GramMatrix

  private def cells(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.agg(GramMatrix.of(col("q"), 2).as("g"))
      .select(explode(col("g")).as("c"))
      .select(col("c.i"), col("c.j"), col("c.sum_q"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("gram cells match hand arithmetic on a 2-dim corpus") {
    // rows (1,2), (3,-4): X'X = [[10,-10],[-10,20]]
    val df = Seq(Seq(1L, 2L), Seq(3L, -4L)).toDF("q")
    assert(cells(df) == Map((0L, 0L) -> 10L, (0L, 1L) -> -10L, (1L, 1L) -> 20L))
  }

  test("partial buffers merge exactly: many partitions, same cells") {
    val rows = (1 to 100).map(i => Seq(i.toLong, (i % 7).toLong - 3L))
    val one = cells(rows.toDF("q").coalesce(1))
    val many = cells(rows.toDF("q").repartition(8))
    assert(one == many)
  }

  test("null vectors are skipped; wrong dimension fails loudly") {
    val withNull = Seq(Some(Seq(1L, 2L)), None).toDF("q")
    assert(cells(withNull) == Map((0L, 0L) -> 1L, (0L, 1L) -> 2L, (1L, 1L) -> 4L))
    val bad = Seq(Seq(1L, 2L, 3L)).toDF("q")
    val e = intercept[org.apache.spark.SparkException] {
      cells(bad)
    }
    assert(e.getMessage != null)
  }
}

/** x49/x50: the pair-graph AUDIT views. The oracle hash gate proves value
  * equality against DuckDB; these prove the cross-query invariants that
  * make the views trustworthy as curation inputs — the flow matrix is a
  * lossless re-aggregation of the x02 pair set, and the recall audit's
  * subset arithmetic holds. */
class PairAuditSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  import graft.queries.Extensions

  test("x49 flow matrix re-aggregates the x02 pair set losslessly") {
    val pairs = Extensions.x02_dedup_ngram_jaccard(spark, dir).collect()
    val flow = Extensions.x49_source_dup_flow(spark, dir).collect()
    assert(flow.nonEmpty, "sf0.001 has near-dup pairs; the matrix must too")
    assert(flow.map(_.getAs[Long]("n_pairs")).sum == pairs.length)
    assert(flow.map(_.getAs[Long]("overlap_shingles")).sum ==
      pairs.map(_.getAs[Long]("n_common")).sum)
    // canonical undirected key: source_a <= source_b on every row
    assert(flow.forall(r =>
      r.getAs[String]("source_a") <= r.getAs[String]("source_b")))
    // max_jaccard is a real pair's value
    val js = pairs.map(_.getAs[Double]("jaccard")).toSet
    assert(flow.forall(r => js.contains(r.getAs[Double]("max_jaccard"))))
  }

  test("x61 temperature mixture dominates x48's τ→0 limit source-by-source") {
    // Provable containment, not statistics: u16·src < 2^16·min implies
    // u16²·src < 2^32·min (multiply by u16 < 2^16), so every x48-kept
    // document is x61-kept and the per-source summaries must dominate.
    val eq = Extensions.x48_source_equalize(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("kept_docs"), r.getAs[Long]("kept_tokens")))).toMap
    val tmp = Extensions.x61_source_temperature(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("kept_docs"), r.getAs[Long]("kept_tokens"),
          r.getAs[Long]("src_tokens"), r.getAs[Long]("min_tokens")))).toMap
    assert(tmp.keySet == eq.keySet)
    tmp.foreach { case (src, (d1, t1, srcTok, minTok)) =>
      val (d0, t0) = eq(src)
      assert(d1 >= d0 && t1 >= t0, s"$src: x61 ($d1,$t1) < x48 ($d0,$t0)")
      // the smallest source keeps everything under both policies
      if (srcTok == minTok) assert(d1 == d0 && t1 == t0)
    }
    // τ=1/2 actually bites somewhere: at least one source keeps strictly
    // more than the τ→0 limit and strictly less than everything.
    assert(tmp.exists { case (src, (d1, _, srcTok, minTok)) =>
      srcTok != minTok && d1 > eq(src)._1 })
  }

  test("x50 recall audit: sketch ⊆ exact and the subset arithmetic holds") {
    val r = Extensions.x50_sketch_recall(spark, dir).collect()
    assert(r.length == 1)
    val (e, s, m) = (r(0).getAs[Long]("n_exact_pairs"),
      r(0).getAs[Long]("n_sketch_pairs"), r(0).getAs[Long]("n_missed"))
    assert(e > 0, "sf0.001 has near-dup pairs")
    assert(s <= e, "verified LSH pairs must be a subset of the exact set")
    assert(m == e - s, "n_missed must be the subset complement")
    // cross-check the exact count against x02 itself
    assert(e == Extensions.x02_dedup_ngram_jaccard(spark, dir).count())
  }
}

/** x51/x52/x53: the prefix-filtered Jaccard join, containment pairs, and
  * the leakage-safe cluster split. The oracle hash gate proves value
  * equality against DuckDB; these prove the algorithmic claims — the
  * prefix filter is recall-exact, containment catches subset duplication
  * Jaccard structurally misses, and the split never separates a near-dup
  * pair. */
class CurationSpec extends SparkSpec {
  import spark.implicits._
  import graft.ext.{Dedup, Sampling}
  import graft.queries.Extensions
  private val dir = "/root/testdata/sf0.001"

  test("x51 prefix-filtered pairs are identical to the full x02 join") {
    val full = Extensions.x02_dedup_ngram_jaccard(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toSeq
    val pref = Extensions.x51_jaccard_prefix(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toSeq
    assert(full.nonEmpty, "sf0.001 has near-dup pairs")
    assert(pref == full)
  }

  test("prefix filter survives the threshold boundary (J exactly t)") {
    // Two 4-shingle docs sharing exactly 2 shingles: J = 2/(4+4-2) = 1/3.
    // At t = 1/3 the pair must appear; the prefix length is
    // 4 − ⌈4/3⌉ + 1 = 3, so the filter has no slack to hide behind.
    val docs = Seq(
      (1L, "a b c d e f"), // shingles: abc bcd cde def
      (2L, "c d e f g h")  // shingles: cde def efg fgh — shared: cde def
    ).toDF("doc_id", "text")
    val r = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
      threshold = 1.0 / 3.0).collect()
    assert(r.length == 1 && r(0).getAs[Long]("n_common") == 2L)
    assert(math.abs(r(0).getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-15)
  }

  test("containment catches subset duplication that Jaccard misses") {
    // Short doc = a verbatim slice of the long one: containment 1.0,
    // Jaccard 8/28 ≈ 0.29 — under every symmetric near-dup threshold.
    val longText = (1 to 30).map(i => s"t$i").mkString(" ")
    val shortText = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, longText), (2L, shortText)).toDF("doc_id", "text")
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
    assert(jac.count() == 0L)
    val con = Dedup.containmentPairs(docs, "doc_id", "text",
      threshold = 0.8, minSmall = 5L).collect()
    assert(con.length == 1)
    assert(con(0).getAs[Long]("id_a") == 1L && con(0).getAs[Long]("id_b") == 2L)
    assert(con(0).getAs[Double]("containment") == 1.0)
  }

  test("containment minSmall floors out trivially-tiny sets") {
    // The 3-token doc has ONE shingle, fully inside the long doc —
    // containment 1.0 by accident; the floor must drop it.
    val docs = Seq(
      (1L, (1 to 30).map(i => s"t$i").mkString(" ")),
      (2L, "t1 t2 t3")).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(docs, "doc_id", "text",
      threshold = 0.8, minSmall = 5L).count() == 0L)
    assert(Dedup.containmentPairs(docs, "doc_id", "text",
      threshold = 0.8, minSmall = 1L).count() == 1L)
  }

  test("clusterSplit co-assigns cluster members; singletons key off their id") {
    val labels = Seq((1L, 1L), (5L, 1L), (10L, 1L)).toDF("v", "label")
    val docs = Seq(1L, 5L, 10L, 20L, 30L).toDF("doc_id")
    val r = Sampling.clusterSplit(docs, "doc_id", labels, 0.75, 0.125)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("split_key"), x.getAs[String]("split"))).toMap
    assert(r.size == 5)
    assert(Set(r(1L), r(5L), r(10L)).size == 1, "cluster members share key+split")
    assert(r(20L)._1 == 20L && r(30L)._1 == 30L, "singletons use their own id")
    assert(r.values.forall(v => Set("train", "val", "test").contains(v._2)))
  }

  test("x53 never separates an x03 near-dup pair (the leakage guarantee)") {
    val split = Extensions.x53_cluster_split(spark, dir)
      .select(col("doc_id"), col("split"))
    val pairs = Extensions.x03_dedup_minhash_lsh(spark, dir)
      .select(col("id_a"), col("id_b"))
    assert(pairs.count() > 0, "sf0.001 has near-dup pairs")
    val separated = pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sp_a")), Seq("id_a"))
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sp_b")), Seq("id_b"))
      .filter(col("sp_a") =!= col("sp_b"))
    assert(separated.count() == 0L)
    // every document is assigned exactly once, and all three splits are
    // populated at 500 docs with a 75/12.5/12.5 draw
    val counts = split.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 500L)
    assert(Set("train", "val", "test").subsetOf(counts.keySet))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
  }
}

/** x62 edit-distance near-dup join: the Ed-Join prefix filter's recall
  * proof in-engine, plus the counter-case that motivates the operator —
  * scattered single-char edits that shingle Jaccard cannot see. */
class EditDistSpec extends SparkSpec {
  import spark.implicits._

  test("scattered char flips: found by x62, invisible to x02's Jaccard") {
    // 30 tokens; flip ONE char in every 4th token (i = 4,8,…,28 → 7
    // edits). Each edited token kills its 3 containing shingles — 21 of
    // 28 destroyed, J = 7/49 ≈ 0.14, far under the 0.5 gate — while
    // ED = 7 sits inside x62's threshold.
    val base = (1 to 30).map(i => f"tok$i%02d").mkString(" ")
    val edited = (1 to 30).map { i =>
      val t = f"tok$i%02d"
      if (i % 4 == 0) t.updated(0, 'x') else t
    }.mkString(" ")
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val ed = Dedup.editDistancePairs(docs, "doc_id", "text", k = 8, q = 5)
      .collect()
    assert(ed.length == 1)
    assert(ed(0).getAs[Long]("id_a") == 1L && ed(0).getAs[Long]("id_b") == 2L)
    assert(ed(0).getAs[Long]("ed") == 7L)
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      w = 3, threshold = 0.5)
    assert(jac.count() == 0L, "shingle Jaccard misses the scattered-edit dup")
    graft.ext.ExtCaches.clearCaches()
  }

  test("content filter: L1/2 lower-bounds edit distance, boundary pairs survive, expressions agree with brute values") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.graftfn.{CharHistogram, L1DistanceLong}
    // Expression values vs a Scala-side brute histogram/L1.
    val rows = Seq("abcabc", "xyzzy", "a𝛼b", "").toDF("s")
      .select(col("s"), CharHistogram.of(col("s"), 32).as("h"))
      .collect()
    def brute(s: String): Seq[Long] = {
      val h = new Array[Long](32)
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i); h(cp % 32) += 1; i += Character.charCount(cp)
      }
      h.toSeq
    }
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == brute(r.getString(0)), r.getString(0))
    }
    val l1 = Seq((Seq(1L, 2L, 0L), Seq(0L, 5L)))
      .toDF("a", "b")
      .select(L1DistanceLong.l1(col("a"), col("b")).as("d"))
      .head().getLong(0)
    assert(l1 == 1L + 3L + 0L)
    // BOUNDARY pair: exactly k edits scattered through a gram-diverse
    // text must still be emitted with the filter in place (the filter
    // can only drop pairs with L1 > 2k, and ED = k implies L1 ≤ 2k).
    val base = (1 to 30).map(i => f"tok$i%02d").mkString(" ")
    val edited8 = (1 to 30).map { i =>
      val t = f"tok$i%02d"
      if (i % 3 == 0 && i <= 24) t.updated(0, ('a' + i).toChar) else t
    }.mkString(" ")
    val docs = Seq((1L, base), (2L, edited8)).toDF("doc_id", "text")
    val ed = Dedup.editDistancePairs(docs, "doc_id", "text", k = 8, q = 5)
      .collect()
    assert(ed.length == 1 && ed(0).getAs[Long]("ed") == 8L, ed.mkString(","))
    graft.ext.ExtCaches.clearCaches()
  }

  test("low-diversity docs (short or repetitive) take the brute arm: the advice recall hole is closed") {
    // Round-8 advice counter-case verbatim: 'abcde' vs 'abcdx' (ED = 1).
    // Each text is a SINGLE 5-gram and one edit destroys it, so the gram
    // join alone yields no candidate — the brute arm must find the pair.
    val docs = Seq((1L, "abcde"), (2L, "abcdx"),
      (3L, "z" * 150)).toDF("doc_id", "text")
    val ed = Dedup.editDistancePairs(docs, "doc_id", "text", k = 8, q = 5)
      .collect()
    assert(ed.length == 1, ed.mkString(","))
    assert(ed(0).getAs[Long]("id_a") == 1L && ed(0).getAs[Long]("id_b") == 2L
      && ed(0).getAs[Long]("ed") == 1L)
    graft.ext.ExtCaches.clearCaches()
    // Sub-q strings (whole text is the single gram): same hole, same arm.
    val tiny = Seq((1L, "ab"), (2L, "ax"), (3L, "abcdefghijkl"))
      .toDF("doc_id", "text")
    val tinyPairs = Dedup.editDistancePairs(tiny, "doc_id", "text", k = 8, q = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // (1,2): ED 1. (1,3)/(2,3): ED > 8 is impossible — lengths differ by
    // 10 > k, the length filter drops them before verify.
    assert(tinyPairs == Set((1L, 2L, 1L)), tinyPairs)
    graft.ext.ExtCaches.clearCaches()
    // LONG but repetitive: 'ab'×40 has only 2 distinct 5-grams — len 80
    // clears the 45-char length bound the round-8 advice used, but the
    // distinct-gram count (the condition the lemma actually needs) does
    // not. Two deletions (ED = 2) can destroy nothing the gram join would
    // see; the brute arm still pairs them.
    val rep = Seq((1L, "ab" * 40), (2L, ("ab" * 40).drop(2)))
      .toDF("doc_id", "text")
    val repPairs = Dedup.editDistancePairs(rep, "doc_id", "text", k = 8, q = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(repPairs == Set((1L, 2L, 2L)), repPairs)
    graft.ext.ExtCaches.clearCaches()
  }

  test("mixed short/long corpus is recall-exact vs brute force") {
    // Short docs, their near partners, long docs with scattered edits, and
    // decoys — every pair class crosses the routing boundary somewhere.
    val base = (1 to 30).map(i => f"w$i%03d").mkString(" ")
    val rows = Seq(
      1L -> "abcde", 2L -> "abcdx", 3L -> "ab", 4L -> "ax",
      5L -> base, 6L -> base.replace("w004", "x004"),
      7L -> ("ab" * 40), 8L -> ("ab" * 40).drop(2),
      9L -> "completely unrelated text of medium length here",
      10L -> "abcdefgh")
    val docs = rows.toDF("doc_id", "text")
    val l = docs.select(col("doc_id"), col("text"),
      length(col("text")).as("l"))
    val brute = l.as("a").join(l.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.l") - col("b.l")) <= 8)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        levenshtein(col("a.text"), col("b.text")).cast("long").as("ed"))
      .filter(col("ed") <= 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fast = Dedup.editDistancePairs(docs, "doc_id", "text", k = 8, q = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fast == brute, s"fast=$fast brute=$brute")
    graft.ext.ExtCaches.clearCaches()
  }

  test("maxBruteBucket guard: under-cap output unchanged; hot length buckets drop their brute pairs") {
    // 4 short docs in one length bucket + one isolated near pair in a
    // quiet bucket. Uncapped: the quiet pair AND the hot bucket's pairs.
    val docs = Seq(1L -> "ab", 2L -> "ax", 3L -> "ba", 4L -> "xb",
        5L -> "mnopqrstuvwxyzabc", 6L -> "mnopqrstuvwxyzabd")
      .toDF("doc_id", "text")
    def run(cap: Option[Int]) =
      Dedup.editDistancePairs(docs, "doc_id", "text", k = 8, q = 5,
          maxBruteBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = run(None)
    // cap 10: every bucket under it — output UNCHANGED (x59 discipline)
    assert(run(Some(10)) == uncapped, "no-op cap changed the answer")
    graft.ext.ExtCaches.clearCaches()
    // cap 3: the 4-doc short bucket (len 2 → bucket 0) exceeds it and
    // drops from the brute arm — its pairs vanish; the quiet pair (5,6)
    // (len 17 → bucket 2, population 2, still low-diversity so still
    // brute-arm) survives untouched
    val capped = run(Some(3))
    assert(capped.contains((5L, 6L)), capped)
    assert(!capped.exists(p => p._1 <= 4L && p._2 <= 4L),
      s"hot-bucket brute pairs leaked past the cap: $capped")
    assert(uncapped.exists(p => p._1 <= 4L && p._2 <= 4L),
      s"degenerate spec: uncapped had no hot-bucket pairs: $uncapped")
    graft.ext.ExtCaches.clearCaches()
  }

  test("prefix filter is recall-exact vs in-engine brute force (sf0.001)") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), length(col("text")).as("l"))
    // The length-feasible pairs are materialized first: the distance
    // filter would otherwise be pushed into the nested-loop join and
    // computed on every pair ahead of the id and length conjuncts. The
    // reference is materialized too, so both assertions read it once.
    val feasible = docs.as("a").join(docs.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.l") - col("b.l")) <= 8)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.text").as("text_a"), col("b.text").as("text_b"))
      .localCheckpoint()
    val brute = feasible
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("ed"))
      .filter(col("ed") <= 8)
      .localCheckpoint()
    val fast = Dedup.editDistancePairs(docs, "doc_id", "text", k = 8, q = 5)
    assert(fast.exceptAll(brute).count() == 0L, "x62 emits a false pair")
    assert(brute.exceptAll(fast).count() == 0L, "x62 missed a true pair")
    // the early-exit threshold form still reports the TRUE distance
    assert(fast.filter(col("ed") < 0 || col("ed") > 8).count() == 0L)
    graft.ext.ExtCaches.clearCaches()
  }
}

/** x63/x64 SQ8 scalar quantization: code semantics pinned on constructed
  * vectors, audit invariants at sf0.001. */
class Sq8Spec extends SparkSpec {
  import spark.implicits._
  import graft.queries.Extensions

  test("sq8Codes: full-scale hits ±127, floor truncates, dead dim codes 0") {
    val df = Seq(
      (1L, Array(1.0f, -2.0f, 0.0f)),
      (2L, Array(0.5f, 1.0f, 0.0f))).toDF("id", "vec")
    // scales = max|x| per dim = [1.0, 2.0, 0.0]
    val codes = Similarity.sq8Codes(df, "id", "vec")
      .orderBy("id").collect().map(_.getSeq[Long](1))
    assert(codes(0) == Seq(127L, -127L, 0L))
    // floor(127·0.5/1)=63, floor(127·1/2)=floor(63.5)=63, dead dim → 0
    assert(codes(1) == Seq(63L, 63L, 0L))
    graft.ext.ExtCaches.clearCaches()
  }

  test("x64 audit: one row per query, n_hits ≤ k, recall = n_hits/k") {
    val dir = "/root/testdata/sf0.001"
    val r = Extensions.x64_sq8_recall(spark, dir).collect()
    assert(r.length == Extensions.QuerySetSize)
    r.foreach { row =>
      val hits = row.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= 3L)
      assert(row.getAs[Double]("recall_at_k") == hits / 3.0)
    }
    graft.ext.ExtCaches.clearCaches()
  }

  test("x69 multi-probe dominates single-probe: top-1 dot never worse") {
    val dir = "/root/testdata/sf0.001"
    val single = Extensions.x63_sim_topk_ivfsq8(spark, dir)
      .filter(col("rnk") === 1L)
      .select(col("q_id"), col("dot_q8").as("d1"))
    val multi = Extensions.x69_sim_topk_multiprobe(spark, dir)
      .filter(col("rnk") === 1L)
      .select(col("q_id"), col("dot_q8").as("dm"))
    val joined = single.join(multi, Seq("q_id")).collect()
    assert(joined.length == Extensions.QuerySetSize)
    joined.foreach { r =>
      assert(r.getAs[Long]("dm") >= r.getAs[Long]("d1"),
        s"q ${r.getAs[Long]("q_id")}: multi-probe lost its own bucket")
    }
    graft.ext.ExtCaches.clearCaches()
  }

  test("x63 top-k agrees with brute-force integer-dot ranking in-bucket") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.tables.Tables.embeddings(spark, dir)
    val fast = Extensions.x63_sim_topk_ivfsq8(spark, dir)
    // brute re-rank: same codes, same buckets, rank via exceptAll proof
    val coded = Similarity.sq8Codes(e, "vec_id", "embedding")
      .withColumn("bucket", Similarity.signBucket(col("code"), 4))
    val q = coded.filter(col("id") < Extensions.QuerySetSize)
      .select(col("id").as("q_id"), col("code").as("qc"), col("bucket"))
    val brute = coded.join(q, Seq("bucket"))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("bucket"), col("id").as("c_id"),
        Similarity.dotQ(col("qc"), col("code")).as("dot_q8"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(desc("dot_q8"), col("c_id"))
    val top = brute.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
    assert(fast.exceptAll(top).count() == 0L)
    assert(top.exceptAll(fast).count() == 0L)
    graft.ext.ExtCaches.clearCaches()
  }

  test("x70 probe ranking: probe_rank 1 IS the argmin assignment; nprobe widens monotonically") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.tables.Tables.embeddings(spark, dir)
    val assign = Similarity.nearestCentroidAssign(e, "vec_id", "label", "embedding")
      .select(col("id"), col("assigned_label"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probes = Similarity.nearestCentroidProbes(e, "vec_id", "label",
        "embedding", 3)
      .select(col("id"), col("probe_rank"), col("c_label")).collect()
    // rank-1 probe = the assignment, for every row (same tScore, same
    // tie-break — the two entry points cannot drift)
    probes.filter(_.getLong(1) == 1L).foreach { r =>
      assert(r.getLong(2) == assign(r.getLong(0)),
        s"id ${r.getLong(0)}: probe1 ${r.getLong(2)} != assign ${assign(r.getLong(0))}")
    }
    // exactly nprobe distinct cells per row
    val perRow = probes.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
    assert(perRow.values.forall(_.size == 3))
    graft.ext.ExtCaches.clearCaches()
  }

  test("x70 search: widening nprobe never lowers any query's top-1 dot (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.tables.Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
    def top1(nprobe: Int): Map[Long, Long] = {
      val m = Similarity.ivfSq8TopKLearned(e, q, "vec_id", "label",
          "embedding", k = 1, nprobe = nprobe)
        .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("dot_q8")).toMap
      graft.ext.ExtCaches.clearCaches()
      m
    }
    val (n1, n3) = (top1(1), top1(3))
    n1.foreach { case (qid, d1) =>
      assert(n3(qid) >= d1, s"q $qid: nprobe=3 top-1 ${n3(qid)} < nprobe=1 $d1")
    }
    graft.ext.ExtCaches.clearCaches()
  }

  test("x71 recall table: hits bounded by n_exact, and learned IVF dominates single-probe sign overall (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.tables.Tables.embeddings(spark, dir)
    val r = Similarity.ivfRecallCompare(e, e.filter(col("vec_id") < 10),
        "vec_id", "label", "embedding", k = 3,
        bits = graft.queries.Extensions.SimBucketBits,
        nprobe = graft.queries.Extensions.IvfNprobe)
      .collect()
    assert(r.length == 10)
    r.foreach { row =>
      val n = row.getAs[Long]("n_exact")
      assert(n == 3L)
      Seq("hits_sign", "hits_multiprobe", "hits_ivfkm").foreach { c =>
        val h = row.getAs[Long](c)
        assert(h >= 0L && h <= n, s"$c out of range: $h")
      }
    }
    // The design claim, at the aggregate level (per-query it can tie or
    // flip on a lucky bucket): nprobe learned cells probe ~the same
    // corpus fraction as ~bits+1 sign probes but follow the data — the
    // learned total must at least match the single-probe sign total.
    val tot = (c: String) => r.map(_.getAs[Long](c)).sum
    assert(tot("hits_ivfkm") >= tot("hits_sign"),
      s"learned ${tot("hits_ivfkm")} < sign ${tot("hits_sign")}")
    graft.ext.ExtCaches.clearCaches()
  }
}

/** x67/x68 curation audits: the rank gate on a constructed ladder, the
  * histogram's partition-of-the-corpus invariant on real data. */
class CurationAuditSpec extends SparkSpec {
  import spark.implicits._

  test("x67 rank gate: floor/ceil cuts drop exactly the tails") {
    // one source, token counts 1..20: lo = floor(1.0) = 1, hi = ceil(19.0)
    // = 19 → ranks 2..19 kept; bounds are the 2nd and 19th lengths.
    val docs = (1 to 20).map(i =>
      (i.toLong, "s0", (1 to i).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val r = graft.queries.Extensions.x67_length_gate0(docs).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_docs_src") == 20L)
    assert(r(0).getAs[Long]("kept_docs") == 18L)
    assert(r(0).getAs[Long]("min_kept_tokens") == 2L)
    assert(r(0).getAs[Long]("max_kept_tokens") == 19L)
    assert(r(0).getAs[Long]("kept_tokens") == (2 to 19).sum.toLong)
  }

  test("x68 histogram partitions the corpus (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val h = graft.queries.Extensions.x68_cluster_size_hist(spark, dir).collect()
    val total = graft.tables.Tables.documents(spark, dir).count()
    assert(h.map(r => r.getAs[Long]("n_docs")).sum == total)
    assert(h.forall(r => r.getAs[Long]("cluster_size") >= 1L))
    // rows of size ≥ 2 must account for exactly x20's clusters
    val clusters = graft.queries.Extensions.x20_dup_clusters(spark, dir).count()
    assert(h.filter(_.getAs[Long]("cluster_size") >= 2L)
      .map(_.getAs[Long]("n_clusters")).sum == clusters)
    graft.ext.ExtCaches.clearCaches()
  }
}

/** x67's approx-quantile twin (round-9 verdict stretch #8): the sketch
  * form must land within its DOCUMENTED tolerance of the exact-rank
  * oracle — rank error ≤ n/accuracy per side, plus boundary-value ties
  * (the exact form splits ties by rank; a value-space filter cannot).
  * Both terms are computed from the data, not hand-tuned slack. */
class ApproxLengthGateSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.queries.Extensions

  test("approx gate within rank-error + boundary-tie tolerance of the exact gate (sf0.01 + sf0.1)") {
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val docs = graft.tables.Tables.documents(spark, dir)
      val accuracy = 10000
      val exact = Extensions.x67_length_gate0(docs).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      val approx = Extensions.x67_length_gate_approx0(docs, accuracy).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      assert(exact.keySet == approx.keySet, s"$dir: source sets differ")
      // per-(source, n_tokens) histogram for boundary-tie counting
      val hist = docs.select(col("source"),
          size(graft.ext.TextOps.tokens(col("text"))).cast("long").as("n"))
        .groupBy(col("source"), col("n")).count().collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      exact.foreach { case (src, e) =>
        val a = approx(src)
        val n = e.getAs[Long]("n_docs_src")
        val loV = e.getAs[Long]("min_kept_tokens")
        val hiV = e.getAs[Long]("max_kept_tokens")
        val ties = hist.getOrElse((src, loV), 0L) + hist.getOrElse((src, hiV), 0L)
        val slackDocs = 2 * math.ceil(n.toDouble / accuracy).toLong + ties
        val dDocs = math.abs(e.getAs[Long]("kept_docs") - a.getAs[Long]("kept_docs"))
        assert(dDocs <= slackDocs,
          s"$dir/$src: kept_docs off by $dDocs > tolerance $slackDocs")
        val dTok = math.abs(e.getAs[Long]("kept_tokens") - a.getAs[Long]("kept_tokens"))
        assert(dTok <= slackDocs * math.max(loV, hiV),
          s"$dir/$src: kept_tokens off by $dTok > ${slackDocs * math.max(loV, hiV)}")
        // the learned bounds must bracket consistently: every doc the
        // approx gate keeps sits inside [approx lo, approx hi] by
        // construction; assert those bounds are within the tie
        // neighborhood of the exact kept range
        assert(math.abs(a.getAs[Long]("min_kept_tokens") - loV) <= 2 &&
          math.abs(a.getAs[Long]("max_kept_tokens") - hiV) <= 2,
          s"$dir/$src: learned bounds drifted: " +
            s"approx [${a.getAs[Long]("min_kept_tokens")}, ${a.getAs[Long]("max_kept_tokens")}] " +
            s"exact [$loV, $hiV]")
      }
      graft.ext.ExtCaches.clearCaches()
    }
  }
}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._
  import graft.ext.Retrieval

  test("hybridRrfTopK: both-arm docs outrank single-arm docs; ranks deterministic") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val embs = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Retrieval.hybridRrfTopK(docs, embs,
        docs.filter(col("doc_id") < 5), "doc_id", "text",
        "vec_id", "embedding", armK = 10, k = 5)
      .collect()
    assert(r.nonEmpty)
    val byQ = r.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rnk"))
      // rrf non-increasing in fused rank; ranks contiguous from 1
      val rrfs = sorted.map(_.getAs[Double]("rrf"))
      assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq ==
        (1L to sorted.length).toSeq)
      // every fused row carries at least one arm rank, none beyond armK
      sorted.foreach { row =>
        val lex = Option(row.getAs[java.lang.Long]("lex_rnk"))
        val vec = Option(row.getAs[java.lang.Long]("vec_rnk"))
        assert(lex.nonEmpty || vec.nonEmpty)
        assert(lex.forall(_ <= 10) && vec.forall(_ <= 10))
      }
      // a doc present in BOTH arms at the best ranks beats any
      // single-arm doc: rrf(two arms, worst) = 1/70+1/70 > 1/61 =
      // rrf(one arm, best)
      val both = sorted.filter(row =>
        row.getAs[java.lang.Long]("lex_rnk") != null &&
          row.getAs[java.lang.Long]("vec_rnk") != null)
      val single = sorted.filter(row =>
        row.getAs[java.lang.Long]("lex_rnk") == null ||
          row.getAs[java.lang.Long]("vec_rnk") == null)
      if (both.nonEmpty && single.nonEmpty)
        // worst both-arm rrf = 2/(60+armK) > best single-arm = 1/61
        assert(both.map(_.getAs[Double]("rrf")).min >
          single.map(_.getAs[Double]("rrf")).max)
    }
    graft.ext.ExtCaches.clearCaches()
  }

  test("orphanGuard: an orphaned embedding fails loudly on execution; clean corpus passes one NULL row") {
    // The round-11 advice item: the guard went lazy (in-plan assert_true
    // over a 1-row anchor) and every green corpus exercises only the
    // pass path — if a plan change ever elided it, nothing would notice.
    // Pin the FAILURE path: vec_id=3 has no document row.
    val docs = Seq(1L, 2L).toDF("doc_id")
    val embs = Seq(1L, 2L, 3L).toDF("vec_id")
    val e = intercept[Exception] {
      graft.queries.Extensions.orphanGuard(docs, embs, "specguard").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null &&
      m.contains("specguard oracle precondition violated")),
      s"guard failure lost its message: $e")
    // Pass path: embeddings ⊆ documents yields exactly one NULL row
    // (assert_true's success value) — the filter(isNull) contract x84/x88
    // consume.
    val ok = graft.queries.Extensions
      .orphanGuard(docs, Seq(1L, 2L).toDF("vec_id"), "specguard").collect()
    assert(ok.length == 1 && ok(0).isNullAt(0))
  }

  test("x84: IVF dense arm fuses; ranks contiguous; arm ranks bounded") {
    val r = graft.queries.Extensions.x84_hybrid_rrf_ivf(
        spark, "/root/testdata/sf0.001").collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq ==
        (1L to sorted.length).toSeq)
      sorted.foreach { row =>
        val lex = Option(row.getAs[java.lang.Long]("lex_rnk"))
        val vec = Option(row.getAs[java.lang.Long]("vec_rnk"))
        assert(lex.nonEmpty || vec.nonEmpty)
        assert(lex.forall(_ <= graft.queries.Extensions.HybridArmK) &&
          vec.forall(_ <= graft.queries.Extensions.HybridArmK))
      }
    }
    graft.ext.ExtCaches.clearCaches()
  }

  test("hybridRrfTopK: universe is docs ∩ embeddings; no self-retrieval") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"), // lexical twin of 0
      (2L, "one two three four five six seven"),
      (9L, "has no embedding so never retrieved")).toDF("doc_id", "text")
    val embs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f))). // vector twin of 0
      toDF("vec_id", "embedding")
    val r = Retrieval.hybridRrfTopK(docs, embs, docs.filter(col("doc_id") === 0L),
        "doc_id", "text", "vec_id", "embedding", armK = 3, k = 3)
      .collect()
    val ids = r.map(_.getAs[Long]("doc_id")).toSet
    assert(!ids.contains(0L)) // no self
    assert(!ids.contains(9L)) // not in the embedded universe
    // doc 1 is the lexical twin, doc 2 the vector twin — both retrieved
    assert(ids == Set(1L, 2L))
    graft.ext.ExtCaches.clearCaches()
  }

  test("idf weighting flips count-arm rankings: rare overlap beats common overlap") {
    // query q shares ONE rare shingle with doc A (df=2: only q and A) and
    // TWO common shingles with doc B (the fillers all carry them).
    // count arm: B (2) > A (1). idf arm with N=18 docs: the rare shingle
    // weighs max(1, len(bin(18)) - len(bin(2)) + 1) = 4, the common ones
    // (df=17) weigh 1 — A (4) > B (2).
    val q = (0L, "r1 r2 r3 c1 c2 c3")
    val a = (1L, "r1 r2 r3 za zb zc")
    val b = (2L, "r3 c1 c2 c3 yy")
    val fillers = (3L to 17L).map(i => (i, s"r3 c1 c2 c3 f$i"))
    val docs = (Seq(q, a, b) ++ fillers).toDF("doc_id", "text")
    val embs = docs.select(col("doc_id").as("vec_id"))
      .withColumn("embedding",
        array((0 until 8).map(_ => lit(0.5f)): _*))
    def lexRank(idf: Boolean): Map[Long, Long] =
      Retrieval.hybridRrfTopK(docs, embs, docs.filter(col("doc_id") === 0L),
          "doc_id", "text", "vec_id", "embedding", armK = 18, k = 18,
          idfWeighted = idf)
        .collect()
        .flatMap(r => Option(r.getAs[java.lang.Long]("lex_rnk"))
          .map(lr => r.getAs[Long]("doc_id") -> lr.toLong))
        .toMap
    val byCount = lexRank(idf = false)
    val byIdf = lexRank(idf = true)
    assert(byCount(2L) < byCount(1L),
      s"count arm must favor B's two common shingles: $byCount")
    assert(byIdf(1L) < byIdf(2L),
      s"idf arm must favor A's rare shingle: $byIdf")
    graft.ext.ExtCaches.clearCaches()
  }

  test("x88: the IVF×PQ arm fuses; ranks contiguous; arm ranks bounded") {
    val r = graft.queries.Extensions.x88_hybrid_rrf_ivfpq(
        spark, "/root/testdata/sf0.001").collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq ==
        (1L to sorted.length).toSeq)
      sorted.foreach { row =>
        val lex = Option(row.getAs[java.lang.Long]("lex_rnk"))
        val vec = Option(row.getAs[java.lang.Long]("vec_rnk"))
        assert(lex.nonEmpty || vec.nonEmpty)
        assert(lex.forall(_ <= graft.queries.Extensions.HybridArmK) &&
          vec.forall(_ <= graft.queries.Extensions.HybridArmK))
      }
    }
    graft.ext.ExtCaches.clearCaches()
  }

  test("x92: purity matrix partitions x81's membership exactly") {
    val dir = "/root/testdata/sf0.001"
    val m = graft.queries.Extensions.x92_cluster_label_purity(spark, dir)
      .collect()
    assert(m.nonEmpty)
    // per component, member counts in the matrix must sum to x81's
    // n_members for that component (the matrix is a refinement, not a
    // re-clustering)
    val byComp = m.groupBy(_.getAs[Long]("canonical_id"))
      .map { case (c, rows) => c -> rows.map(_.getAs[Long]("n_members")).sum }
    val x81 = graft.queries.Extensions.x81_semantic_clusters(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("canonical_id") -> r.getAs[Long]("n_members"))
      .toMap
    assert(byComp == x81, "matrix must re-aggregate to x81's summary exactly")
    graft.ext.ExtCaches.clearCaches()
  }
}

class ClassifySpec extends SparkSpec {
  import spark.implicits._
  import graft.ext.Classify

  test("nbVoteScores: class-pure tokens vote their class; scores separate the classes") {
    val df = Seq(
      (0L, true, "good clean prose with signal words"),
      (1L, true, "good clean text with signal content"),
      (2L, false, "spam junk noise garbage words"),
      (3L, false, "spam junk noise garbage content"),
      (4L, true, "")). // empty doc: zero vocabulary tokens
      toDF("doc_id", "label_pos", "text")
    val r = Classify.nbVoteScores(df, "doc_id", "label_pos", "text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.size == 5)
    // pure-positive docs score strictly positive, pure-negative strictly
    // negative ("words"/"content" straddle and vote 0)
    assert(r(0L).getAs[Long]("vote_score") > 0 && r(0L).getAs[Boolean]("predicted_pos"))
    assert(r(1L).getAs[Long]("vote_score") > 0)
    assert(r(2L).getAs[Long]("vote_score") < 0 && !r(2L).getAs[Boolean]("predicted_pos"))
    assert(r(3L).getAs[Long]("vote_score") < 0)
    // the empty doc is present, scores 0, predicts negative
    assert(r(4L).getAs[Long]("n_vocab_tokens") == 0L)
    assert(r(4L).getAs[Long]("vote_score") == 0L && !r(4L).getAs[Boolean]("predicted_pos"))
    graft.ext.ExtCaches.clearCaches()
  }

  test("nbVoteScoresSplit: votes come from train only; OOV apply tokens are ignored") {
    val train = Seq(
      (0L, true, "good clean prose"),
      (1L, true, "good clean text"),
      (2L, false, "spam junk noise"),
      (3L, false, "spam junk garbage")).toDF("doc_id", "label_pos", "text")
    val apply = Seq(
      (10L, false, "good clean material"),      // 2 pos-voting tokens + 1 OOV
      (11L, true, "spam junk material"),        // 2 neg-voting tokens + 1 OOV
      (12L, true, "wholly novel vocabulary")).  // all OOV -> score 0
      toDF("doc_id", "label_pos", "text")
    val r = Classify.nbVoteScoresSplit(train, apply, "doc_id", "label_pos", "text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    // only apply rows come back, and without a label column
    assert(r.keySet == Set(10L, 11L, 12L))
    assert(!r(10L).schema.fieldNames.contains("label_pos"))
    assert(r(10L).getAs[Long]("vote_score") == 2L && r(10L).getAs[Boolean]("predicted_pos"))
    assert(r(11L).getAs[Long]("vote_score") == -2L && !r(11L).getAs[Boolean]("predicted_pos"))
    // apply labels played no part: doc 10's false label did not flip votes
    assert(r(12L).getAs[Long]("n_vocab_tokens") == 0L &&
      r(12L).getAs[Long]("vote_score") == 0L)
    graft.ext.ExtCaches.clearCaches()
  }

  test("nbVoteScores: in-sample agreement with the weak label beats chance on the corpus") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val labeled = graft.ext.TextOps.qualityScore(docs)
      .withColumn("label_pos",
        col("quality_score") >= graft.queries.Extensions.QualityGate)
    val r = Classify.nbVoteScores(labeled, "doc_id", "label_pos", "text").collect()
    val n = r.length
    val agree = r.count(x =>
      x.getAs[Boolean]("label_pos") == x.getAs[Boolean]("predicted_pos"))
    // both classes must be present for the statement to mean anything
    val nPos = r.count(_.getAs[Boolean]("label_pos"))
    assert(nPos > 0 && nPos < n, s"degenerate label split: $nPos/$n")
    assert(agree.toDouble / n > 0.5, s"agreement $agree/$n not above chance")
    graft.ext.ExtCaches.clearCaches()
  }

  test("nbVoteConfusion: cells partition the holdout; rates are the cell ratios") {
    val train = Seq(
      (0L, true, "good clean prose"),
      (1L, true, "good clean text"),
      (2L, false, "spam junk noise"),
      (3L, false, "spam junk garbage")).toDF("doc_id", "label_pos", "text")
    val apply = Seq(
      (10L, true, "good clean material"),   // predicted pos, labeled pos: tp
      (11L, true, "spam junk material"),    // predicted neg, labeled pos: fn
      (12L, false, "good clean stuff"),     // predicted pos, labeled neg: fp
      (13L, false, "wholly novel words")).  // score 0 -> neg, labeled neg: tn
      toDF("doc_id", "label_pos", "text")
    val r = Classify.nbVoteConfusion(train, apply, "doc_id", "label_pos", "text")
      .collect()
    assert(r.length == 1)
    val row = r(0)
    val (tp, fp, fn, tn) = (row.getAs[Long]("tp"), row.getAs[Long]("fp"),
      row.getAs[Long]("fn"), row.getAs[Long]("tn"))
    assert((tp, fp, fn, tn) == ((1L, 1L, 1L, 1L)))
    assert(row.getAs[Double]("precision") == 0.5)
    assert(row.getAs[Double]("recall") == 0.5)
    assert(row.getAs[Double]("accuracy") == 0.5)
    graft.ext.ExtCaches.clearCaches()
  }

  test("nbVoteCalibrated: threshold is the training-accuracy argmax (smallest-tau tiebreak)") {
    val train = Seq(
      (0L, true, "good clean prose"),
      (1L, true, "good clean text"),
      (2L, false, "spam junk noise"),
      (3L, false, "spam junk garbage")).toDF("doc_id", "label_pos", "text")
    val apply = Seq(
      (10L, true, "good clean material"),   // v=2  > -3 -> pos: tp
      (11L, true, "spam junk material"),    // v=-2 > -3 -> pos: tp
      (12L, false, "good clean stuff"),     // v=2  > -3 -> pos: fp
      (13L, false, "wholly novel words")).  // v=0  > -3 -> pos: fp
      toDF("doc_id", "label_pos", "text")
    // training scores are +3 (pos docs) and -3 (neg docs): tau=-3 gets all
    // four right; tau=-4 (all-positive) and tau=+3 (all-negative) get two.
    val r = Classify.nbVoteCalibrated(train, apply, "doc_id", "label_pos", "text")
      .collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Long]("threshold") == -3L)
    assert((row.getAs[Long]("tp"), row.getAs[Long]("fp"),
      row.getAs[Long]("fn"), row.getAs[Long]("tn")) == ((2L, 2L, 0L, 0L)))
    graft.ext.ExtCaches.clearCaches()
  }

  test("nbVoteCalibrated: an empty training slice fails loudly, not as a NULL-threshold row") {
    // Round-11 advice: min(tau) over an empty score distribution yields a
    // NULL floor row and the chosen threshold silently went NULL. Now the
    // in-plan train-count anchor assert_true fires instead.
    val train = Seq.empty[(Long, Boolean, String)]
      .toDF("doc_id", "label_pos", "text")
    val apply = Seq((10L, true, "some words here"))
      .toDF("doc_id", "label_pos", "text")
    val e = intercept[Exception] {
      Classify.nbVoteCalibrated(train, apply, "doc_id", "label_pos", "text")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null &&
      m.contains("training slice is empty")),
      s"empty-train failure lost its message: $e")
    graft.ext.ExtCaches.clearCaches()
  }

  test("nbLogOddsCalibrated: smoothed log-odds separate the toy classes; double threshold") {
    val train = Seq(
      (0L, true, "good clean prose"),
      (1L, true, "good clean text"),
      (2L, false, "spam junk noise"),
      (3L, false, "spam junk garbage")).toDF("doc_id", "label_pos", "text")
    val apply = Seq(
      (10L, true, "good clean material"),        // +2·ln3 > τ: tp
      (11L, false, "spam junk noise garbage"),   // −2·ln3 −2·ln2 < τ: tn
      (12L, false, "wholly novel words")).toDF("doc_id", "label_pos", "text")
    val r = Classify.nbLogOddsCalibrated(train, apply, "doc_id", "label_pos", "text")
      .collect()
    assert(r.length == 1)
    val row = r(0)
    // training scores are ±(2·ln3 + ln2) ≈ ±2.89; the argmax cut is the
    // training-negative score itself (predict pos iff score > τ), so the
    // class-pure holdout docs split correctly while the all-OOV doc
    // (score 0 > τ) stays positive — the same keep-when-ignorant
    // behavior the vote form shows at its calibrated cut.
    assert((row.getAs[Long]("tp"), row.getAs[Long]("fp"),
      row.getAs[Long]("fn"), row.getAs[Long]("tn")) == ((1L, 1L, 0L, 1L)))
    val thr = row.getAs[Double]("threshold")
    assert(math.abs(thr - (-(2 * math.log(3) + math.log(2)))) < 1e-12,
      s"threshold $thr is not the training-negative score")
    // the threshold is a real-valued score now
    assert(row.schema("threshold").dataType ==
      org.apache.spark.sql.types.DoubleType)
    graft.ext.ExtCaches.clearCaches()
  }

  test("nbLogOddsCalibrated vs nbVoteCalibrated: the real-valued upgrade measured on x90's holdout") {
    // Round-12 verdict #6: until measured, "the vote form is enough" is a
    // claim. Same corpus, same hash split, same calibration discipline —
    // only the weight expression differs. The spec pins the measured
    // relation: the log-odds form must at least match the vote form's
    // holdout accuracy minus noise (0.03 ≈ 3 docs at sf0.01), and both
    // must beat the all-positive baseline. Numbers recorded in the
    // nbLogOddsCalibrated Scaladoc + PLANS.md.
    import graft.queries.Extensions
    def acc(row: org.apache.spark.sql.Row): Double = row.getAs[Double]("accuracy")
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val labeled = graft.ext.TextOps.qualityScore(
        graft.tables.Tables.documents(spark, dir))
        .withColumn("label_pos",
          col("quality_score") >= Extensions.QualityGate)
      val inBase = graft.ext.Sampling.hashThresholdPredicate(
        col("doc_id"), Extensions.BaseFrac)
      val vote = Classify.nbVoteCalibrated(
        labeled.filter(inBase), labeled.filter(!inBase),
        "doc_id", "label_pos", "text").collect()(0)
      val lo = Classify.nbLogOddsCalibrated(
        labeled.filter(inBase), labeled.filter(!inBase),
        "doc_id", "label_pos", "text").collect()(0)
      // same holdout partitioned by both forms
      val n = Seq("tp", "fp", "fn", "tn").map(lo.getAs[Long]).sum
      assert(n == Seq("tp", "fp", "fn", "tn").map(vote.getAs[Long]).sum)
      val basePos = (vote.getAs[Long]("tp") + vote.getAs[Long]("fn")).toDouble / n
      info(f"$dir holdout n=$n vote acc=${acc(vote)}%.4f (thr=${vote.getAs[Long]("threshold")}) " +
        f"logodds acc=${acc(lo)}%.4f (thr=${lo.getAs[Double]("threshold")}%.3f) " +
        f"all-positive baseline=${basePos}%.4f")
      assert(acc(vote) > basePos && acc(lo) > basePos,
        s"calibrated forms must beat the all-positive baseline $basePos")
      assert(acc(lo) >= acc(vote) - 0.03,
        f"log-odds form regressed: ${acc(lo)}%.4f vs vote ${acc(vote)}%.4f")
      graft.ext.ExtCaches.clearCaches()
    }
  }

  test("x90 on the corpus: calibration turns the all-positive x86 baseline into a real filter") {
    val dir = "/root/testdata/sf0.001"
    val cal = graft.queries.Extensions
      .x90_classifier_calibrated(spark, dir).collect()(0)
    val base = graft.queries.Extensions
      .x86_classifier_confusion(spark, dir).collect()(0)
    // same holdout partitioned by both
    val n = Seq("tp", "fp", "fn", "tn").map(cal.getAs[Long]).sum
    assert(n == Seq("tp", "fp", "fn", "tn").map(base.getAs[Long]).sum)
    // the measured round-11 facts this operator exists for: the baseline
    // predicts all-positive; the calibrated cut actually rejects docs and
    // beats the baseline's accuracy on the holdout.
    assert(base.getAs[Long]("fn") == 0L && base.getAs[Long]("tn") == 0L)
    assert(cal.getAs[Long]("tn") > 0L, "calibrated filter must reject something")
    assert(cal.getAs[Double]("accuracy") > base.getAs[Double]("accuracy"))
    graft.ext.ExtCaches.clearCaches()
  }

  test("x86 on the corpus: cells sum to the holdout size; rates match the cells") {
    val dir = "/root/testdata/sf0.001"
    val r = graft.queries.Extensions.x86_classifier_confusion(spark, dir).collect()
    assert(r.length == 1)
    val row = r(0)
    val (tp, fp, fn, tn) = (row.getAs[Long]("tp"), row.getAs[Long]("fp"),
      row.getAs[Long]("fn"), row.getAs[Long]("tn"))
    val holdout = graft.queries.Extensions
      .x83_classifier_split(spark, dir).count()
    assert(tp + fp + fn + tn == holdout, "confusion cells partition the holdout")
    assert(row.getAs[Double]("accuracy") == (tp + tn).toDouble / holdout.toDouble)
    graft.ext.ExtCaches.clearCaches()
  }
}

/** Round-12: the Lloyd-cell degenerate-size fence (Similarity.CellFence)
  * — the x59 discipline applied to the IVF graph builders, pinned on the
  * corpus shape the round-11 verdict flagged: Lloyd CAN collapse a cell
  * on a real clustered corpus, and the unfenced members×probers cell
  * join is then ~cell² semantically. The spec corpus forces exactly
  * that: 50 near-identical vectors collapse into one cell (over a 20
  * cap) beside 10 under-cap outliers. */
class CellFenceSpec extends SparkSpec {
  import spark.implicits._
  import graft.ext.Similarity

  // Cluster (even ids, 50 vectors): dims 0..31 = +40 (shared core),
  // dims 32..63 = ±1 by subgroup sign pattern. Subgroup A = ids {0, 2}
  // (+1 at even dims), subgroup B = the other 48 evens (+1 at odd dims)
  // — opposite signs on all 32 sampled-band-visible dims, so A and B
  // never share a band. One dim per vector carries magnitude 2 (sign
  // preserved) so vectors are distinct. Outliers (odd ids, 10 vectors):
  // dims 0..31 = 0, dims 32..63 = ±50 alternating by (id/2 + d) parity
  // — their per-dim sum is exactly 0, so the outlier centroid is the
  // origin and Lloyd keeps cluster/outliers cleanly split.
  private def corpus = {
    val cluster = (0 until 100 by 2).map { id =>
      val inA = id < 4
      val vec = Array.tabulate(64) { d =>
        if (d < 32) 40.0f
        else {
          val sign = if ((d % 2 == 0) == inA) 1.0f else -1.0f
          val mag = if (d == 32 + ((id / 2) % 32)) 2.0f else 1.0f
          sign * mag
        }
      }
      (id.toLong, vec)
    }
    val outliers = (1 until 20 by 2).map { id =>
      val vec = Array.tabulate(64) { d =>
        if (d < 32) 0.0f
        else if (((id / 2) + d) % 2 == 0) 50.0f else -50.0f
      }
      (id.toLong, vec)
    }
    (cluster ++ outliers).toDF("vec_id", "embedding")
  }

  private def edges(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getAs[Long]("src_id"), r.getAs[Long]("nbr_id"))).toSet

  /** The spec geometry's front: 2 cells trained over `df` itself. */
  private def front(df: org.apache.spark.sql.DataFrame) =
    Similarity.trainedIvfFront(df, "vec_id", "embedding", cells = 2,
      lloydRounds = 1, nprobe = 2)

  /** The residual graph with the sub-quantizer trained over `f`. */
  private def residual(f: Similarity.IvfFront) =
    Similarity.knnGraphIvfResidual(f, k = 3, maxCellSize = 20, subNprobe = 2,
      assertUnderCap = false,
      subStats = Similarity.residualSubStats(f, lloydRounds = 1,
        maxCellSize = 20, subCells = 4))

  test("fence: oversized cell switches to banded candidates; under-cap cells and colliding neighbors keep exact semantics") {
    val df = corpus
    val unfenced = edges(Similarity.knnGraphIvf(front(df), k = 3,
      maxCellSize = None, assertUnderCap = false))
    graft.ext.ExtCaches.clearCaches()
    val fenced = edges(Similarity.knnGraphIvf(front(df), k = 3,
      maxCellSize = Some(20), assertUnderCap = false))
    graft.ext.ExtCaches.clearCaches()
    val bIds = (4 until 100 by 2).map(_.toLong).toSet
    // the degenerate cell really is fenced: node 0 (subgroup A) sees B
    // members exactly (unfenced) but only band-collisions (fenced)
    assert(unfenced.exists { case (s, n) => s == 0L && bIds(n) },
      s"unfenced top-3 of node 0 should reach subgroup B: $unfenced")
    assert(!fenced.exists { case (s, n) => s == 0L && bIds(n) },
      "fenced node 0 must not see non-colliding B members")
    assert(fenced((0L, 2L)), "the band-identical A twin must survive the fence")
    assert(fenced != unfenced)
    // where banding collides (within-subgroup) nothing is lost: every
    // subgroup-B source keeps its exact top-3 under the fence
    val bUnfenced = unfenced.filter { case (s, _) => bIds(s) }
    val bFenced = fenced.filter { case (s, _) => bIds(s) }
    assert(bFenced == bUnfenced,
      s"fence changed B rows: ${(bFenced diff bUnfenced) ++ (bUnfenced diff bFenced)}")
    // a cap above every cell is a no-op: exact equality with unfenced
    val fencedHigh = edges(Similarity.knnGraphIvf(front(df), k = 3,
      maxCellSize = Some(64), assertUnderCap = false))
    graft.ext.ExtCaches.clearCaches()
    assert(fencedHigh == unfenced)
  }

  test("fence: the SQ8-shortlist builder takes the same fence; guard fails loudly past the cap") {
    val df = corpus
    val bIds = (4 until 100 by 2).map(_.toLong).toSet
    val fenced8 = edges(Similarity.knnGraphIvfSq8(front(df), df, "vec_id",
      "embedding", k = 3, shortlist = 10, maxCellSize = Some(20),
      assertUnderCap = false))
    graft.ext.ExtCaches.clearCaches()
    assert(!fenced8.exists { case (s, n) => s == 0L && bIds(n) },
      "fenced sq8 node 0 must not see non-colliding B members")
    assert(fenced8((0L, 2L)))
    // the registry form's driver-side guard: a collapsed cell fails by name
    val e = intercept[Exception] {
      Similarity.knnGraphIvf(front(df), k = 3, maxCellSize = Some(20),
        assertUnderCap = true).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null &&
      m.contains("knnGraphIvf oracle precondition violated")),
      s"cap guard lost its message: $e")
    graft.ext.ExtCaches.clearCaches()
  }

  test("external cellStats anchor: bit-identical graphs from shared vs per-call training (IVF / SQ8 / residual)") {
    // The round-16 anchor-sharing optimization: a caller may train the
    // coarse quantizer once and hand the stats to every builder.
    // Training is deterministic, so shared-stats output must equal the
    // self-trained output ROW FOR ROW (cosines included) — the property
    // the r16 bench families 5/6 and every gate oracle rely on.
    import org.apache.spark.sql.functions.col
    val df = corpus
    def rows(g: org.apache.spark.sql.DataFrame) =
      g.orderBy(col("src_id"), col("rnk")).collect().toSeq
    def anchored(stats: org.apache.spark.sql.DataFrame) =
      Similarity.ivfFront(df, "vec_id", "embedding", stats, nprobe = 2)
    def trainedAnchor() = Similarity.trainedCellStats(
      graft.ext.ExtCaches.persistTracked(df.select(col("vec_id").as("id"),
        Similarity.quantize(col("embedding")).as("v"))),
      cells = 2, lloydRounds = 1)
    val selfIvf = rows(Similarity.knnGraphIvf(front(df), k = 3,
      maxCellSize = None, assertUnderCap = false))
    graft.ext.ExtCaches.clearCaches()
    val anchor = trainedAnchor()
    val sharedIvf = rows(Similarity.knnGraphIvf(anchored(anchor), k = 3,
      maxCellSize = None, assertUnderCap = false))
    assert(sharedIvf == selfIvf, "shared-stats IVF graph diverged")
    val sharedSq8 = rows(Similarity.knnGraphIvfSq8(anchored(anchor), df,
      "vec_id", "embedding", k = 3, shortlist = 10, maxCellSize = None,
      assertUnderCap = false))
    graft.ext.ExtCaches.clearCaches()
    val selfSq8 = rows(Similarity.knnGraphIvfSq8(front(df), df, "vec_id",
      "embedding", k = 3, shortlist = 10, maxCellSize = None,
      assertUnderCap = false))
    assert(sharedSq8 == selfSq8, "shared-stats SQ8 graph diverged")
    graft.ext.ExtCaches.clearCaches()
    val selfRes = rows(residual(front(df)))
    graft.ext.ExtCaches.clearCaches()
    val sharedRes = rows(residual(anchored(trainedAnchor())))
    assert(sharedRes == selfRes, "shared-stats residual graph diverged")
    graft.ext.ExtCaches.clearCaches()
  }

  test("external subStats anchor: bit-identical residual graph from shared vs per-call sub-quantizer training (round 17)") {
    // The x106 anchor: the residual SUB-quantizer state is deterministic
    // given (corpus, coarse stats), so handing an externally trained
    // state to residualScored must equal per-call training ROW FOR ROW.
    import org.apache.spark.sql.functions.col
    val df = corpus
    def rows(g: org.apache.spark.sql.DataFrame) =
      g.orderBy(col("src_id"), col("rnk")).collect().toSeq
    val selfRes = rows(residual(front(df)))
    graft.ext.ExtCaches.clearCaches()
    val anchor = Similarity.trainedCellStats(
      graft.ext.ExtCaches.persistTracked(df.select(col("vec_id").as("id"),
        Similarity.quantize(col("embedding")).as("v"))),
      cells = 2, lloydRounds = 1)
    val shared = Similarity.ivfFront(df, "vec_id", "embedding", anchor,
      nprobe = 2)
    val sub = Similarity.residualSubStats(shared, lloydRounds = 1,
      maxCellSize = 20, subCells = 4)
    assert(sub.nonEmpty, "spec corpus must overflow the cap (fence active)")
    val sharedRes = rows(Similarity.knnGraphIvfResidual(shared, k = 3,
      maxCellSize = 20, subNprobe = 2, assertUnderCap = false,
      subStats = sub))
    assert(sharedRes == selfRes, "shared subStats residual graph diverged")
    // an oversized cell with no sub state fails by name
    val e = intercept[IllegalArgumentException](
      Similarity.knnGraphIvfResidual(shared, k = 3, maxCellSize = 20,
        subNprobe = 2, assertUnderCap = false, subStats = None))
    assert(e.getMessage.contains("no sub-quantizer state"), e.getMessage)
    // an UNFENCED geometry returns None — callers pass it straight through
    assert(Similarity.residualSubStats(front(df), lloydRounds = 1,
      maxCellSize = 64, subCells = 4).isEmpty,
      "no-overflow geometry must yield None")
    graft.ext.ExtCaches.clearCaches()
  }
}

/** Round 17: the residual-PQ anchor (Similarity.residualPqState) — x77's
  * joint-Lloyd codebook chain trained once per session epoch and handed
  * back via ivfPqResidualTopK's pqState parameter. Deterministic
  * training ⇒ shared-vs-per-call output must be bit-identical. */
class ResidualPqAnchorSpec extends SparkSpec {
  import spark.implicits._
  import graft.ext.Similarity

  test("ivfPqResidualTopK: shared residualPqState equals per-call training row for row") {
    import org.apache.spark.sql.functions.col
    val df = (0 until 60).map { id =>
      (id.toLong, Array.tabulate(64) { d =>
        (((id * 31 + d * 17) % 13) - 6).toFloat / 3.0f
      })
    }.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3)
    def rows(g: org.apache.spark.sql.DataFrame) =
      g.orderBy(col("q_id"), col("rnk")).collect().toSeq
    def search(front: Similarity.IvfFront) =
      rows(Similarity.ivfPqResidualTopK(front, queries, "vec_id", k = 3,
        m = 8, codes = 4, dims = 64,
        pqState = Similarity.residualPqState(front, m = 8, codes = 4,
          pqLloydRounds = 1, dims = 64)))
    val self = search(Similarity.trainedIvfFront(df, "vec_id", "embedding",
      cells = 4, lloydRounds = 1, nprobe = 2))
    graft.ext.ExtCaches.clearCaches()
    val anchor = Similarity.trainedCellStats(
      graft.ext.ExtCaches.persistTracked(df.select(col("vec_id").as("id"),
        Similarity.quantize(col("embedding")).as("v"))),
      cells = 4, lloydRounds = 1)
    val shared = search(Similarity.ivfFront(df, "vec_id", "embedding", anchor,
      nprobe = 2))
    assert(shared == self, "shared residual-PQ state diverged from per-call")
    graft.ext.ExtCaches.clearCaches()
  }
}

/** The CellFence's banded fallback ON the corpus class that triggers it
  * (round 12; PLANS.md "DiagPlantedFence — the fence's fallback
  * measured ON its trigger class"): planted structure is simultaneously the
  * positive control and sign-LSH's adversarial case — jitter never flips
  * a sign, so an entire (cell, planted-label) cohort shares one 64-bit
  * signature. Three measured facts pinned here (numbers in PLANS.md):
  * the fallback's candidate set is exactly cohort-quadratic, band
  * buckets cannot subdivide a cohort (a hotBucketCap inside the fallback
  * would trip at exactly the size the cell cap already tripped at), and
  * Lloyd granularity is INERT — extra hash-split seeds converge to equal
  * quantized centroids and die, so cells ∝ √n does NOT shrink the max
  * cell here. Correctness survives (fallback recall = 1.0); COST is what
  * collapses — the honest production rule for tightly clustered corpora
  * is the cap as a loud tripwire, not a silent fix. */
class PlantedFenceSpec extends SparkSpec {
  import spark.implicits._
  import graft.ext.{ExtCaches, Planted, Similarity}

  private val N = 300
  private val Cap = 10

  private def planted = Planted.vectors(
    (0L until N.toLong).toDF("vec_id"), "vec_id")

  /** `pe`'s front: 10 cells trained over it, `nprobe` probes. */
  private def front(pe: org.apache.spark.sql.DataFrame, nprobe: Int) =
    Similarity.trainedIvfFront(pe, "vec_id", "embedding", cells = 10,
      lloydRounds = 2, nprobe = nprobe)

  test("planted fallback: cohort-quadratic candidates, bucket == cohort, granularity inert, recall 1.0") {
    val pe = ExtCaches.persistTracked(planted)
    val v = Similarity.withNorm(
      pe.select(col("vec_id").as("id"), col("embedding").as("vec")),
      "vec", "norm")
    val q = ExtCaches.persistTracked(v.select(col("id"), col("vec").as("v")))

    def memberCells(cells: Int) = Similarity
      .probesFromStats(q, Similarity.trainedCellStats(q, cells, 2), 1)
      .filter(col("probe_rank") === 1)
      .select(col("id").as("nbr_id"), col("cell"))

    // -- granularity inertness: 12.8x the seeds, max cell stays oversized
    val m10 = ExtCaches.persistTracked(memberCells(10))
    def maxCell(m: org.apache.spark.sql.DataFrame): Long =
      m.groupBy(col("cell")).agg(count(lit(1)).as("g"))
        .agg(max(col("g"))).collect()(0).getLong(0)
    assert(maxCell(m10) > Cap)
    assert(maxCell(memberCells(128)) > Cap,
      "128 hash-split seeds should NOT split planted clusters below the cap " +
        "(equal quantized centroids die on the deterministic tie-break)")

    // -- collapse equality: fallback pairs == sum over cohorts g*(g-1)
    val cohorts = m10
      .join(pe.select(col("vec_id").as("nbr_id"), col("label")), Seq("nbr_id"))
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("g"))
      .agg(sum(col("g") * (col("g") - 1)).as("pairs"),
        max(col("g")).as("max_cohort")).collect()(0)
    val probes = m10.select(col("nbr_id").as("src_id"), col("cell"))
    val fence = new Similarity.CellFence(m10, probes, Some(Cap))
    assert(fence.bandedScored(v).get.count() == cohorts.getLong(0),
      "banded fallback must generate exactly the within-(cell,label) pairs")

    // -- bucket == cohort: banding buys no subdivision on planted signs
    val keys = v.withColumn("sig", Similarity.signSignature(col("vec"), 64))
      .select(col("id").as("nbr_id"),
        explode(Similarity.sampledKeysFromSig(col("sig"), 16, 16, 64,
          0x5EEDL)).as("bk"))
    val maxBucket = m10.join(keys, Seq("nbr_id"))
      .groupBy(col("cell"), col("bk")).agg(count(lit(1)).as("b"))
      .agg(max(col("b"))).collect()(0).getLong(0)
    assert(maxBucket == cohorts.getLong(1),
      s"max band bucket $maxBucket != max cohort ${cohorts.getLong(1)}")

    // -- the fence's design contract: correctness degrades gracefully
    // (same-cohort pairs all collide), cost is what collapsed above
    val g = Similarity.knnGraphIvf(front(pe, nprobe = 1), k = 3,
      maxCellSize = Some(Cap), assertUnderCap = false)
    val r = Similarity.graphEdgesRecall(pe, g, "vec_id", "embedding", 3)
      .agg(sum(col("hits")).as("h"), sum(col("n_exact")).as("d")).collect()(0)
    assert(r.getLong(0) == r.getLong(1),
      s"fully-fenced planted recall ${r.getLong(0)}/${r.getLong(1)} != 1.0")
    ExtCaches.clearCaches()
  }

  test("residual fallback: equals knnGraphIvf under the cap; bounded below the banded quadratic past it, probe-budget recall, residual granularity splits pure cohorts") {
    val pe = ExtCaches.persistTracked(planted)

    // under-cap corpus: the residual form IS knnGraphIvf, row for row
    val base = Similarity.knnGraphIvf(front(pe, nprobe = 2), k = 3,
      maxCellSize = Some(N), assertUnderCap = false).collect().toSet
    val under = front(pe, nprobe = 2)
    val res = Similarity.knnGraphIvfResidual(under, k = 3, maxCellSize = N,
      subNprobe = 4, assertUnderCap = false,
      subStats = Similarity.residualSubStats(under, lloydRounds = 2,
        maxCellSize = N, subCells = 16)).collect().toSet
    assert(res == base, "no-overflow residual build must equal knnGraphIvf")

    // past the cap: candidates bounded below the banded cohort-quadratic
    val v = Similarity.withNorm(
      pe.select(col("vec_id").as("id"), col("embedding").as("vec")),
      "vec", "norm")
    val q = ExtCaches.persistTracked(v.select(col("id"), col("vec").as("v")))
    val stats = Similarity.trainedCellStats(q, 10, 2)
    val m10 = ExtCaches.persistTracked(
      Similarity.probesFromStats(q, stats, 1)
        .filter(col("probe_rank") === 1)
        .select(col("id").as("nbr_id"), col("cell")))
    val probes = m10.select(col("nbr_id").as("src_id"), col("cell"))
    val fence = new Similarity.CellFence(m10, probes, Some(Cap))
    val banded = fence.bandedScored(v).get.count()
    val residual = fence.residualScored(v, stats,
      fence.subQuantizerStats(v, stats, 16, 2), 8).get.count()
    assert(residual < banded,
      s"residual candidates $residual not below the banded quadratic $banded")

    // recall follows the sub-probe budget (measured 0.94 at sub=16,
    // probe=8 on the sf0.01 twin — pin a conservative floor)
    val f = front(pe, nprobe = 1)
    val g = Similarity.knnGraphIvfResidual(f, k = 3, maxCellSize = Cap,
      subNprobe = 8, assertUnderCap = false,
      subStats = Similarity.residualSubStats(f, lloydRounds = 2,
        maxCellSize = Cap, subCells = 16))
    val r = Similarity.graphEdgesRecall(pe, g, "vec_id", "embedding", 3)
      .agg(sum(col("hits")).as("h"), sum(col("n_exact")).as("d")).collect()(0)
    assert(r.getLong(0) * 10 >= r.getLong(1) * 6,
      s"residual-fenced recall ${r.getLong(0)}/${r.getLong(1)} below 0.6")

    // the contrast with raw-space inertness: on RESIDUALS, granularity
    // splits — at least one pure cohort spreads over many sub-cells
    val cbar = Similarity.roundedCentroids(stats)
    val rq = m10
      .join(v.select(col("id").as("nbr_id"), col("vec")), Seq("nbr_id"))
      .join(broadcast(cbar), Seq("cell"))
      .select(col("nbr_id").as("id"),
        zip_with(col("vec"), col("cbar"), (a, b) => a - b).as("v"))
    val maxSpread = Similarity.probesFromStats(
        rq, Similarity.trainedCellStats(rq, 64, 2), 1)
      .select(col("id").as("nbr_id"), col("cell").as("subcell"))
      .join(m10, Seq("nbr_id"))
      .join(pe.select(col("vec_id").as("nbr_id"), col("label")), Seq("nbr_id"))
      .groupBy(col("cell"), col("label"))
      .agg(countDistinct(col("subcell")).as("n_sub"))
      .agg(max(col("n_sub"))).collect()(0).getLong(0)
    assert(maxSpread >= 5,
      s"residual granularity failed to split any cohort (max spread $maxSpread)")
    ExtCaches.clearCaches()
  }

  test("depth-2 residual recursion: subset of one level, under-cap equality (empty-training path), recall floor") {
    val pe = ExtCaches.persistTracked(planted)

    // under-cap: depth 2 must equal knnGraphIvf exactly — this also
    // exercises the recursion's empty-training path end to end (bigK
    // empty at level 1, a Lloyd chain over zero rows, empty emits)
    val base = Similarity.knnGraphIvf(front(pe, nprobe = 2), k = 3,
      maxCellSize = Some(N), assertUnderCap = false).collect().toSet
    val deepOk = Similarity.knnGraphIvfResidualDeep(front(pe, nprobe = 2),
      k = 3, lloydRounds = 2, maxCellSize = N, subCells = 16, subNprobe = 4,
      depth = 2).collect().toSet
    assert(deepOk == base, "no-overflow depth-2 build must equal knnGraphIvf")

    // past the cap: the depth-2 candidate set is a SUBSET of the
    // one-level set (a level-2 pair shares its level-1 key by
    // construction: the member's rank-1 key is one of the prober's
    // probed keys), so recursion only ever prunes
    val v = Similarity.withNorm(
      pe.select(col("vec_id").as("id"), col("embedding").as("vec")),
      "vec", "norm")
    val q = ExtCaches.persistTracked(v.select(col("id"), col("vec").as("v")))
    val stats = Similarity.trainedCellStats(q, 10, 2)
    val m10 = ExtCaches.persistTracked(
      Similarity.probesFromStats(q, stats, 1)
        .filter(col("probe_rank") === 1)
        .select(col("id").as("nbr_id"), col("cell")))
    val probes = m10.select(col("nbr_id").as("src_id"), col("cell"))
    val fence = new Similarity.CellFence(m10, probes, Some(Cap))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("src_id"), col("nbr_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = pairs(fence.residualScored(v, stats,
      fence.subQuantizerStats(v, stats, 16, 2), 8).get)
    val two = pairs(fence.residualScoredDeep(v, stats, 16, 2, 8,
      maxDepth = 3).get)
    assert(two.subsetOf(one),
      s"depth-2 emitted ${(two diff one).size} pairs outside the one-level set")

    // recall floor at the gate-measured operating point (0.738 at
    // sf0.01 sub=32 probe=10; conservative floor at this geometry)
    val g = Similarity.knnGraphIvfResidualDeep(front(pe, nprobe = 1), k = 3,
      lloydRounds = 2, maxCellSize = Cap, subCells = 16, subNprobe = 8,
      depth = 2)
    val r = Similarity.graphEdgesRecall(pe, g, "vec_id", "embedding", 3)
      .agg(sum(col("hits")).as("h"), sum(col("n_exact")).as("d")).collect()(0)
    assert(r.getLong(0) * 2 >= r.getLong(1),
      s"depth-2 recall ${r.getLong(0)}/${r.getLong(1)} below 0.5")
    ExtCaches.clearCaches()
  }
}

/** Round-13 (the round-12 verdict's #3): the PURE-CELL probe-budget law
  * pinned as exact integers, at the soak geometry that discovered it —
  * n = 20,000 planted vectors, coarse = 32 (train cells ≥ the 10
  * planted clusters → 17 non-empty cells, every cell PURE, merged-mode
  * free), cap = 1000. With pure cells the residual space FULLY splits
  * (all sub-cells non-empty — the contrast with the merged-mode
  * geometry, where glued modes hold 2056/1726-member sub-cells) and
  * recall lands on the i.i.d. probe-budget curve: 460/1230 = 0.374 at
  * 12.5 % probed sub-mass (sub=64, probe=8), 410/1230 = 0.333 at ~6 %
  * (sub=256, probe=16) — vs x91's prototype 0.36 at 9.5 % mass.
  * Everything on the path is deterministic integer arithmetic
  * (planted draws, Lloyd chains, tie-breaks, the 400/n audit sample),
  * so the law is pinned EXACTLY, not within tolerance: any drift in
  * the quantizer, the fence, or the sampling shows as an integer diff
  * here before it can silently move a gated corpus. Also pins the
  * round-13 finding that depth-2 recursion is a NO-OP on pure cells
  * (all level-1 sub-cells under cap → identical candidates), closing
  * the loop with PlantedFenceSpec's merged-mode depth-2 pruning. */
class PureCellCurveSpec extends SparkSpec {
  import graft.ext.{ExtCaches, Planted, Similarity}

  test("pure cells: full residual split, exact probe-budget curve, depth-2 no-op") {
    val n = 20000L
    val cap = 1000
    val coarse = 32
    val pe = ExtCaches.persistTracked(Planted.vectors(
      spark.range(n).select(col("id").as("vec_id")), "vec_id"))
    val audit = Some(graft.ext.Sampling.hashThresholdPredicate(
      col("vec_id"), 400.0 / n))
    val v = Similarity.withNorm(
      pe.select(col("vec_id").as("id"), col("embedding").as("vec")),
      "vec", "norm")
    val q = ExtCaches.persistTracked(v.select(col("id"), col("vec").as("v")))
    val stats = Similarity.trainedCellStats(q, coarse, 2)
    val members = ExtCaches.persistTracked(
      Similarity.probesFromStats(q, stats, 1)
        .filter(col("probe_rank") === 1)
        .select(col("id").as("nbr_id"), col("cell")))
    val probes = members.select(col("nbr_id").as("src_id"), col("cell"))

    // pure-cell premise: 32 seeds over 10 planted clusters converge to
    // 17 non-empty cells (the granularity-inertness shape)
    val geom = members.groupBy(col("cell")).agg(count(lit(1)).as("g"))
      .agg(count(lit(1)).as("nonempty"), max(col("g")).as("mx")).collect()(0)
    assert(geom.getLong(0) == 17L && geom.getLong(1) == 2057L,
      s"coarse geometry moved: ${geom.getLong(0)} cells, max ${geom.getLong(1)}")

    val fence = new Similarity.CellFence(members, probes, Some(cap))
    // the curve, exact: (subCells, subNprobe, candidates, hits, denom)
    for ((sub, probe, expCand, expHits) <- Seq(
        (64, 8, 3841954L, 460L), (256, 16, 1940805L, 410L))) {
      val cand = fence.residualScored(v, stats,
        fence.subQuantizerStats(v, stats, sub, 2), probe).get.count()
      assert(cand == expCand,
        s"sub=$sub probe=$probe candidates $cand != $expCand")
      val f = Similarity.trainedIvfFront(pe, "vec_id", "embedding",
        cells = coarse, lloydRounds = 2, nprobe = 1)
      val g = Similarity.knnGraphIvfResidual(f, k = 3, maxCellSize = cap,
        subNprobe = probe, assertUnderCap = false,
        subStats = Similarity.residualSubStats(f, lloydRounds = 2,
          maxCellSize = cap, subCells = sub))
      val r = Similarity.graphEdgesRecall(pe, g, "vec_id", "embedding", 3,
          nodePredicate = audit)
        .agg(sum(col("hits")).as("h"), sum(col("n_exact")).as("d"))
        .collect()(0)
      assert((r.getLong(0), r.getLong(1)) == ((expHits, 1230L)),
        s"sub=$sub probe=$probe recall ${r.getLong(0)}/${r.getLong(1)} " +
          s"!= $expHits/1230 — the probe-budget law drifted")
    }
    // depth-2 is a no-op on pure cells: every level-1 sub-cell is under
    // cap, so recursion emits the identical candidate set
    val deep = fence.residualScoredDeep(v, stats, 256, 2, 16, maxDepth = 3)
      .get.count()
    assert(deep == 1940805L, s"pure-cell depth-2 diverged: $deep")
    ExtCaches.clearCaches()
  }
}

/** Round-12: the planted-structure positive control (graft.ext.Planted +
  * x95–x97). The i.i.d. corpus cannot distinguish "the operator found
  * nothing" from "there is nothing to find"; these pin the direction
  * that matters — on planted structure the quality layer MUST light up. */
class PlantedSpec extends SparkSpec {
  import graft.ext.Planted
  private val dir = "/root/testdata/sf0.001"

  test("generator: integer envelope, sign stability, deterministic replay") {
    val ids = graft.tables.Tables.embeddings(spark, dir).select(col("vec_id"))
    val rows = Planted.vectors(ids, "vec_id").collect()
    assert(rows.length == 500)
    // labels cover all k planted centers
    val labels = rows.map(_.getAs[Long]("label")).toSet
    assert(labels == (0L until Planted.PlantedK.toLong).toSet)
    // every coordinate is a nonzero integer inside the int64-kernel
    // envelope [1, CenterMin+CenterSpan-1+JitterMax]
    val maxAbs = (Planted.CenterMin + Planted.CenterSpan - 1 + Planted.JitterMax).toFloat
    rows.foreach { r =>
      r.getAs[scala.collection.Seq[Float]]("embedding").foreach { x =>
        assert(x == x.toLong.toFloat && math.abs(x) >= 1.0f && math.abs(x) <= maxAbs,
          s"coordinate $x outside the planted envelope")
      }
    }
    // jitter never flips a sign: per (label, dim) the coordinate sign is
    // constant across every vector of the cluster
    val byLabel = rows.groupBy(_.getAs[Long]("label"))
    byLabel.foreach { case (_, vs) =>
      val sigs = vs.map(_.getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => x > 0).toSeq).toSet
      assert(sigs.size == 1, "within-cluster sign signature must be constant")
    }
    // deterministic: a second build is bit-identical
    val again = Planted.vectors(ids, "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2))).toSet
    assert(again == rows.map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2))).toSet)
  }

  test("positive control: purity and both graph recalls read 1.0 on planted structure where i.i.d. read chance") {
    import graft.queries.Extensions
    // x95: every component single-label — majority purity exactly 1
    val purity = Extensions.x95_planted_purity(spark, dir).collect()
    val byComp = purity.groupBy(_.getAs[Long]("canonical_id"))
    assert(byComp.nonEmpty && byComp.forall(_._2.length == 1),
      "a planted component crossed a cluster boundary")
    graft.ext.ExtCaches.clearCaches()
    // x96/x97: hits == n_exact on every node — recall exactly 1
    for ((q, hitsCol) <- Seq(
        (Extensions.x96_planted_knn_recall _, "hits_banded"),
        (Extensions.x97_planted_ivf_recall _, "hits_ivf"))) {
      val r = q(spark, dir).collect()
      assert(r.nonEmpty)
      assert(r.forall(row => row.getAs[Long](hitsCol) == row.getAs[Long]("n_exact")),
        s"$hitsCol < n_exact on planted structure — candidate generation lost a planted neighbor")
      graft.ext.ExtCaches.clearCaches()
    }
    // the i.i.d. contrast on the SAME ids (the x85 measured fact): banded
    // recall ~1% — the pair of numbers that makes the control a control
    val iid = Extensions.x85_knn_graph_recall(spark, dir).collect()
    val iidRecall = iid.map(_.getAs[Long]("hits_banded")).sum.toDouble /
      iid.map(_.getAs[Long]("n_exact")).sum.toDouble
    assert(iidRecall < 0.05, s"i.i.d. banded recall drifted: $iidRecall")
    graft.ext.ExtCaches.clearCaches()
  }
}

/** The incremental graph-maintenance equality (round-12 stretch): folding
  * an ingest batch into a stored IVF kNN graph under a frozen quantizer
  * must EQUAL the fresh build over the union at matched geometry — the
  * re-index-cadence claim proven on the real corpus, not asserted. */
class GraphFoldInSpec extends SparkSpec {
  import graft.ext.{ExtCaches, Sampling, Similarity}
  import graft.queries.Extensions._

  private def splitEmbs(dir: String) = {
    val e = graft.tables.Tables.embeddings(spark, dir)
    val inBase = Sampling.hashThresholdPredicate(col("vec_id"), BaseFrac)
    (e.filter(inBase), e.filter(!inBase), e)
  }

  private def key(r: org.apache.spark.sql.Row) =
    (r.getAs[Long]("src_id"), r.getAs[Long]("rnk"), r.getAs[Long]("nbr_id"),
      java.lang.Double.doubleToLongBits(r.getAs[Double]("cosine")))

  /** Cells trained over `trainOn` alone, as a frozen quantizer. */
  private def frozenStats(trainOn: org.apache.spark.sql.DataFrame) =
    Similarity.trainedCellStats(ExtCaches.persistTracked(
      trainOn.select(col("vec_id").as("id"),
        Similarity.quantize(col("embedding")).as("v"))),
      ScaledCells, ScaledLloydRounds)

  /** The unfenced IVF graph of `df` under the frozen quantizer `stats`. */
  private def frozenGraph(df: org.apache.spark.sql.DataFrame,
                          stats: org.apache.spark.sql.DataFrame) =
    Similarity.knnGraphIvf(Similarity.ivfFront(df, "vec_id", "embedding",
      stats, ScaledNprobe), k = KnnGraphK, maxCellSize = None,
      assertUnderCap = false)

  test("frozen cells trained on the corpus itself equal knnGraphIvf") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.tables.Tables.embeddings(spark, dir)
    val a = Similarity.knnGraphIvf(Similarity.trainedIvfFront(e, "vec_id",
        "embedding", ScaledCells, ScaledLloydRounds, ScaledNprobe),
      k = KnnGraphK, maxCellSize = None, assertUnderCap = false)
      .collect().map(key).toSet
    ExtCaches.clearCaches()
    val b = frozenGraph(e, frozenStats(e)).collect().map(key).toSet
    assert(a == b, s"self-trained frozen form drifted: ${(a -- b).take(3)} / ${(b -- a).take(3)}")
    ExtCaches.clearCaches()
  }

  test("fold-in equals the fresh frozen-quantizer build over base ∪ batch (bit-level, both SFs)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val (base, batch, all) = splitEmbs(dir)
      val nBatch = batch.count()
      assert(nBatch > 0, s"$dir: hash split produced an empty batch")
      val fresh = frozenGraph(all, frozenStats(base)).collect().map(key).toSet
      ExtCaches.clearCaches()
      val front = Similarity.ivfFront(base, "vec_id", "embedding",
        frozenStats(base), ScaledNprobe)
      val stored = Similarity.knnGraphIvf(front, k = KnnGraphK,
        maxCellSize = None, assertUnderCap = false)
      val folded = Similarity.knnGraphIvfFoldIn(stored, front, batch,
        "vec_id", "embedding", k = KnnGraphK)
        .collect().map(key).toSet
      assert(folded == fresh,
        s"$dir: fold-in diverged from the fresh build — " +
          s"missing ${(fresh -- folded).take(3)}, extra ${(folded -- fresh).take(3)}")
      // the fold-in genuinely changed the graph (batch nodes rank, and
      // some base nodes' top-k absorbed batch neighbors)
      val baseSet = stored.collect().map(key).toSet
      assert(folded != baseSet)
      ExtCaches.clearCaches()
    }
  }
}

/** The x87 knob experiment (round-12 stretch #8): tf-saturation and
  * length-normalization are moot on the registry corpus (tf = 1,
  * uniform lengths) and MEASURABLE on the token-stuffed variant
  * ([[graft.ext.Retrieval.stuffedDocs]], x105's corpus). This spec
  * prices three double-valued shingle arms on planted hit@k and pins
  * the measured direction (PLANS.md "BM25 knobs on a non-degenerate
  * corpus"; x105 is the integer, oracle-gated form of the same
  * ladder). */
class Bm25KnobSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"
  import graft.queries.Extensions.{HybridArmK, HybridTopK, RelevanceQueries}
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.types.{DoubleType, LongType}
  import graft.ext.{Relevance, Retrieval}

  private val K1 = 1.2
  private val B = 0.75

  /** Planted hit@k of the three lexical arms over a corpus, at SHINGLE
    * granularity (token-level overlap does not discriminate documents
    * on this small-vocabulary corpus; w=3 shingles do) but WITH
    * multiplicity, so tf-saturation has something to saturate:
    *
    *   1_count : shared-shingle count — no defense against stuffing;
    *   2_idf   : Σ idf over shared shingles (x87's damping);
    *   3_bm25  : full Robertson/Spärck-Jones BM25 (k1 = 1.2, b = 0.75).
    *
    * Returns (arm, n_queries, hits_at_1, hits_at_k) rows. */
  private def lexArmsHits(corpus: DataFrame, nQueries: Int, armK: Int,
                          k: Int): DataFrame = {
    val udocs = corpus.unionByName(
      Relevance.twinDocs(corpus, "doc_id", "text", nQueries))
    // shingle-occurrence tf index: (id, shingle, tf) + per-doc length
    val occ = udocs.select(col("doc_id").as("id"),
      explode(org.apache.spark.sql.graftfn.ShingleArray.shingleOccurrences(
        TextOps.tokens(col("text")), 3)).as("token"))
    val tf = ExtCaches.persistTracked(occ.groupBy(col("id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val dlen = ExtCaches.persistTracked(
      tf.groupBy(col("id")).agg(sum(col("tf")).as("dl")))
    val n = udocs.agg(count(lit(1)).as("n_docs"))
    val avgdl = dlen.agg((sum(col("dl")).cast(DoubleType) /
      count(lit(1)).cast(DoubleType)).as("avgdl"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val qTf = tf.filter(col("id") < nQueries)
      .select(col("id").as("q_id"), col("token"))
    val hits = qTf.join(tf, Seq("token")).filter(col("id") =!= col("q_id"))
      .join(df, Seq("token"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(avgdl))
      .join(dlen, Seq("id"))
    // idf: the Robertson form ln((N - df + 0.5)/(df + 0.5) + 1)
    val idf = log((col("n_docs").cast(DoubleType) - col("df") + 0.5) /
      (col("df") + 0.5) + 1.0)
    val satTf = (col("tf").cast(DoubleType) * (K1 + 1.0)) /
      (col("tf").cast(DoubleType) + lit(K1) * (lit(1.0 - B) +
        lit(B) * col("dl").cast(DoubleType) / col("avgdl")))
    val scored = hits.groupBy(col("q_id"), col("id"))
      .agg(count(lit(1)).cast(DoubleType).as("s_count"),
        sum(idf).as("s_idf"),
        sum(idf * satTf).as("s_bm25"))
    def armHits(arm: String, scoreCol: String): DataFrame = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc(scoreCol), col("id"))
      val ranked = scored
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= armK)
      val isTwin = col("id") === col("q_id") + Relevance.TwinIdOffset
      ranked.agg(
        count(when(isTwin && col("rnk") === 1L, lit(1))).as("hits_at_1"),
        count(when(isTwin && col("rnk") <= k, lit(1))).as("hits_at_k"))
        .crossJoin(broadcast(
          corpus.filter(col("doc_id") < nQueries)
            .agg(count(lit(1)).as("n_queries"))))
        .select(lit(arm).as("arm"), col("n_queries"),
          col("hits_at_1"), col("hits_at_k"))
    }
    armHits("1_count", "s_count")
      .unionByName(armHits("2_idf", "s_idf"))
      .unionByName(armHits("3_bm25", "s_bm25"))
      .orderBy(col("arm"))
  }

  private def plainDocs: DataFrame =
    graft.tables.Tables.documents(spark, dir).select(col("doc_id"), col("text"))

  private def hits(corpus: DataFrame) =
    lexArmsHits(corpus, RelevanceQueries, HybridArmK, HybridTopK)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("hits_at_1"), r.getAs[Long]("hits_at_k"))).toMap

  test("plain corpus: the three lexical arms are indistinguishable (the knobs are moot)") {
    val h = hits(plainDocs)
    // measured 45/50 @1 and 50/50 @k for ALL three arms — distinct
    // shingles (tf = 1) and uniform lengths give the extra BM25 terms
    // nothing to act on
    assert(h("1_count")._2 == 50L && h("2_idf")._2 == 50L && h("3_bm25")._2 == 50L, s"$h")
    assert(h("1_count")._1 == h("2_idf")._1 && h("2_idf")._1 == h("3_bm25")._1, s"$h")
    ExtCaches.clearCaches()
  }

  test("stuffed corpus: count degrades, idf recovers, full BM25 restores plain-corpus hits") {
    val h = hits(Retrieval.stuffedDocs(plainDocs, "doc_id", "text"))
    // measured: count 38/42, idf 44/50, bm25 45/50 — the monotone knob
    // ladder (slack on the @1 cells: double-sum rank near-ties may move
    // a query by one)
    assert(h("1_count")._2 <= 45L,
      s"count arm should be fooled by stuffing: $h")
    assert(h("2_idf")._2 == 50L && h("3_bm25")._2 == 50L,
      s"idf damping must recover the stuffed top-k: $h")
    assert(h("1_count")._1 <= h("2_idf")._1 && h("2_idf")._1 <= h("3_bm25")._1 + 1,
      s"knob ladder direction violated: $h")
    assert(h("3_bm25")._1 >= 43L,
      s"full BM25 should restore ~plain-corpus hit@1 (measured 45): $h")
    ExtCaches.clearCaches()
  }
}

/** NN-descent (Dong et al., WWW'11) on both sides of its structural
  * regime — the half of the round-11 rejection the planted corpus makes
  * falsifiable: the same descent from the same weak hash-random seed
  * (k arbitrary neighbors per node; the banded seed is already perfect
  * on planted structure, x96 = 1.0, so it cannot show climbing)
  * NAVIGATES on planted structure and stays near its coupon-collection
  * floor on i.i.d. embeddings. The measured rounds are in PLANS.md
  * "The planted corpus's remaining verdict-#1 sub-items". */
class NndSpec extends SparkSpec {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.types.{LongType, StringType}

  private val K = 3
  /** Reverse-neighbor cap per node (Dong's sampling knob). */
  private val RCap = 3

  private def u16(s: Column) =
    conv(substring(md5(s), 1, 4), 16, 10).cast(LongType)

  /** k hash-random seed edges per node over the id universe [0, n). */
  private def randomSeed(v: DataFrame, n: Long, k: Int): DataFrame =
    v.select(col("id").as("src_id"),
        explode(array((0 until k).map(j =>
          u16(concat(lit(s"nnd|$j|"), col("id").cast(StringType))) % n): _*))
          .as("nbr_id"))
      .filter(col("src_id") =!= col("nbr_id"))
      .distinct()

  /** One measured descent: per-round recall@K of the evolving graph
    * against the exact per-node top-K. Returns the per-round hit counts
    * followed by (-1, |exact|). `v` = withNormed output (id, vec, ns_, nn_). */
  private def descend(v: DataFrame, n: Long, rounds: Int): Seq[(Int, Long)] = {
    val vv = ExtCaches.persistTracked(v)
    val exact = {
      val a = vv.select(col("id").as("src_id"), col("vec").as("vs"), col("ns_"))
      // exact top-K: brute pairs via the quantized kernel
      val b = vv.select(col("id").as("nbr_id"), col("vec").as("vn"), col("nn_"))
      val w = Window.partitionBy(col("src_id")).orderBy(desc("cosine"), col("nbr_id"))
      a.join(b, col("src_id") =!= col("nbr_id"))
        .withColumn("cosine", Similarity.cosineFromParts(
          Similarity.dotQ(col("vs"), col("vn")), col("ns_"), col("nn_")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= K)
        .select(col("src_id"), col("nbr_id"))
    }
    val exactSet = ExtCaches.persistTracked(exact)
    val nExact = exactSet.count()

    def score(cand: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("src_id")).orderBy(desc("cosine"), col("nbr_id"))
      cand
        .join(vv.select(col("id").as("src_id"), col("vec").as("vs"), col("ns_")), Seq("src_id"))
        .join(vv.select(col("id").as("nbr_id"), col("vec").as("vn"), col("nn_")), Seq("nbr_id"))
        .withColumn("cosine", Similarity.cosineFromParts(
          Similarity.dotQ(col("vs"), col("vn")), col("ns_"), col("nn_")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= K)
        .select(col("src_id"), col("nbr_id"))
    }

    var g = score(randomSeed(vv.select(col("id")), n, K)).localCheckpoint(true)
    val out = Seq.newBuilder[(Int, Long)]
    out += 0 -> g.join(exactSet, Seq("src_id", "nbr_id"), "left_semi").count()
    for (r <- 1 to rounds) {
      // capped reverse edges (hash-ranked for determinism)
      val wr = Window.partitionBy(col("src_id"))
        .orderBy(u16(concat(col("src_id").cast(StringType), lit("|"),
          col("nbr_id").cast(StringType))), col("nbr_id"))
      val rev = g.select(col("nbr_id").as("src_id"), col("src_id").as("nbr_id"))
        .withColumn("rr", row_number().over(wr)).filter(col("rr") <= RCap)
        .select(col("src_id"), col("nbr_id"))
      val und = g.unionByName(rev).distinct()
      val hop2 = und.as("a")
        .join(und.as("b"), col("a.nbr_id") === col("b.src_id"))
        .select(col("a.src_id").as("src_id"), col("b.nbr_id").as("nbr_id"))
        .filter(col("src_id") =!= col("nbr_id"))
      val cand = g.unionByName(hop2).distinct()
      g = score(cand).localCheckpoint(true)
      out += r -> g.join(exactSet, Seq("src_id", "nbr_id"), "left_semi").count()
    }
    out.result() :+ (-1, nExact)
  }

  private def withNormed(e: DataFrame): DataFrame =
    Similarity.withNorm(
        e.select(col("vec_id").as("id"), col("embedding").as("vec")),
        "vec", "norm")
      .select(col("id"), col("vec"), col("norm").as("ns_"), col("norm").as("nn_"))

  test("random-seed NN-descent climbs on planted structure, not on i.i.d. dims") {
    val dir = "/root/testdata/sf0.001"
    val e = graft.tables.Tables.embeddings(spark, dir)
    val n = e.count()
    def finalRecall(corpus: DataFrame): Double = {
      val cells = descend(withNormed(corpus), n, rounds = 3)
      val nExact = cells.last._2
      val r = cells.dropRight(1).last._2.toDouble / nExact
      ExtCaches.clearCaches()
      r
    }
    val iid = finalRecall(e.select(col("vec_id"), col("embedding")))
    val planted = finalRecall(
      graft.ext.Planted.vectors(e.select(col("vec_id")), "vec_id")
        .select(col("vec_id"), col("embedding")))
    info(f"round-3 recall@3: planted $planted%.4f vs i.i.d. $iid%.4f")
    // measured 0.380 vs 0.133 — the descent finds structure exactly when
    // structure exists (slack for double-sum rank near-ties)
    assert(planted >= 0.30, s"planted descent failed to climb: $planted")
    assert(iid <= 0.20, s"i.i.d. descent above its floor: $iid")
    assert(planted >= 2.0 * iid, s"no structured-vs-iid separation: $planted vs $iid")
  }
}

/** The DSIR overflow guard (TextOps.dsirLambda) priced against
  * BigInt-exact arithmetic at 100 TB-class masses — the round-14
  * verdict's #3: the i64 bound must be CODE, not a scaladoc. */
class DsirGuardSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def fl2(x: BigInt): Long = (x.bitLength - 1).toLong
  private def exactLambda(cT: Long, cR: Long, nT: Long, nR: Long): Long =
    fl2((BigInt(cT) + 1) * (BigInt(nR) + 1)) -
      fl2((BigInt(cR) + 1) * (BigInt(nT) + 1))

  test("dsirLambda matches the unguarded product exactly below 2^31 (s = 0)") {
    val rows = Seq(
      (0L, 0L, 1L, 1L), (3L, 7L, 100L, 400L), (999L, 1L, 12345L, 54321L),
      ((1L << 30) - 1L, 1L << 29, (1L << 30) + 5L, (1L << 30) + 3L))
    val got = rows.toDF("c_t", "c_r", "n_t", "n_r")
      .select(graft.ext.TextOps.dsirLambda(
        col("c_t"), col("c_r"), col("n_t"), col("n_r")).as("lam"))
      .collect().map(_.getAs[Long]("lam"))
    val want = rows.map { case (ct, cr, nt, nr) => exactLambda(ct, cr, nt, nr) }
    assert(got.toSeq == want, s"s=0 regime must be bit-identical")
  }

  test("dsirLambda stays within 1 bit of BigInt-exact at masses >= 2^50") {
    // synthetic 100 TB-class counts: the UNGUARDED i64 product
    // (c+1)*(N+1) would exceed 2^63 and wrap on every one of these
    val rows = Seq(
      (3L << 48, 5L << 47, (1L << 51) + 17L, (1L << 52) + 3L),
      (1L << 50, 1L << 49, (1L << 53) - 1L, (1L << 53) + 1L),
      ((1L << 52) + 9L, 7L, (1L << 52) + 9L, (1L << 54) + 1234567L),
      (0L, (1L << 51) - 3L, (1L << 55) + 42L, (1L << 51) - 2L),
      ((1L << 61) - 1L, (1L << 60) + 5L, (1L << 61) - 1L, (1L << 62) - 7L))
    rows.foreach { case (ct, cr, nt, nr) =>
      assert((BigInt(ct) + 1) * (BigInt(nr) + 1) > BigInt(Long.MaxValue) ||
        (BigInt(cr) + 1) * (BigInt(nt) + 1) > BigInt(Long.MaxValue),
        "test row too small to exercise the guard")
    }
    val got = rows.toDF("c_t", "c_r", "n_t", "n_r")
      .select(graft.ext.TextOps.dsirLambda(
        col("c_t"), col("c_r"), col("n_t"), col("n_r")).as("lam"))
      .collect().map(_.getAs[Long]("lam"))
    rows.zip(got).foreach { case ((ct, cr, nt, nr), lam) =>
      val exact = exactLambda(ct, cr, nt, nr)
      assert(math.abs(lam - exact) <= 1L,
        s"guarded lambda $lam drifted >1 bit from exact $exact " +
          s"on (c_t=$ct, c_r=$cr, n_t=$nt, n_r=$nr)")
    }
  }
}

/** Round-16 (the round-15 verdict's #2): the boundary-class refinement.
  * At 100 TB the budget-crossing w_bits class can by itself hold a
  * corpus-scale row count; dsirTopK/dsirBudgetFill now decompose the
  * within-class rank/mass through a second (w_bits, draw) cell
  * histogram so the only window on the un-reduced pool partitions by
  * the full cell. These pin (a) bit-identity of the SELECTION against
  * an independently re-derived global ranking on the adversarial
  * corpus — one bit class holding ~all docs — and (b) the plan shape:
  * every window either partitions by >= 2 columns or sits on reduced
  * (aggregated) input. */
class DsirBoundarySpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.ext.TextOps

  // identical text for ~all docs => identical features => ONE w_bits
  // class holding ~all of the held-out pool (the degenerate case the
  // one-level decomposition would serve with a corpus-sized partition)
  private val wordsA = (1 to 24).map(i => s"tok$i").mkString(" ")
  private def corpus = (1L to 240L).map { i =>
    (i, if (i % 40 == 0) "rare short outlier words" else wordsA, i % 2 == 0)
  }.toDF("doc_id", "text", "is_target")

  test("dsirTopK: single-bit-class corpus selects exactly the global-rank prefix") {
    val out = TextOps.dsirTopK(corpus, "doc_id", "text", "is_target",
      0.5, 64, 0.5).collect()
    val classSizes = out.groupBy(_.getAs[Long]("w_bits")).map(_._2.length)
    assert(classSizes.max >= out.length - 20,
      s"corpus must be degenerate (one dominant bit class); got $classSizes")
    val ordered = out.sortBy(r => (-r.getAs[Long]("w_bits"),
      r.getAs[Long]("draw"), r.getAs[Long]("id")))
    val k = math.ceil(out.length * 0.5).toInt
    val expect = ordered.take(k).map(_.getAs[Long]("id")).toSet
    val got = out.filter(_.getAs[Boolean]("accepted"))
      .map(_.getAs[Long]("id")).toSet
    assert(got == expect,
      "two-level rank decomposition must reproduce the global (w_bits DESC, draw, id) prefix")
    graft.ext.ExtCaches.clearCaches()
  }

  test("dsirTokenBudget: single-bit-class corpus fills exactly the global running-mass prefix") {
    val out = TextOps.dsirTokenBudget(corpus, "doc_id", "text", "is_target",
      0.5, 64, 0.25).collect()
    val ordered = out.sortBy(r => (-r.getAs[Long]("w_bits"),
      r.getAs[Long]("draw"), r.getAs[Long]("id")))
    val masses = ordered.map(_.getAs[Long]("n_tokens"))
    val budget = math.ceil(masses.sum * 0.25).toLong
    val expect = ordered.zip(masses.scanLeft(0L)(_ + _).tail)
      .collect { case (r, cum) if cum <= budget => r.getAs[Long]("id") }.toSet
    val got = out.filter(_.getAs[Boolean]("accepted"))
      .map(_.getAs[Long]("id")).toSet
    assert(got == expect && got.nonEmpty && got.size < out.length,
      "two-level mass decomposition must reproduce the global inclusive-prefix fill")
    graft.ext.ExtCaches.clearCaches()
  }

  test("no window on the un-reduced pool partitions by less than the (w_bits, draw) cell") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Window => LWindow}
    def reduced(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case p: Project   => reduced(p.child)
      case f: Filter    => reduced(f.child)
      case w: LWindow   => reduced(w.child)
      case _            => false
    }
    Seq(
      TextOps.dsirTopK(corpus, "doc_id", "text", "is_target", 0.5, 64, 0.5),
      TextOps.dsirTokenBudget(corpus, "doc_id", "text", "is_target", 0.5, 64, 0.25)
    ).foreach { df =>
      val wins = df.queryExecution.optimizedPlan
        .collect { case w: LWindow => w }
      assert(wins.nonEmpty, "expected window nodes in the plan")
      wins.foreach { w =>
        assert(w.partitionSpec.size >= 2 || reduced(w.child),
          s"window partitioned by ${w.partitionSpec} over un-reduced input")
      }
      graft.ext.ExtCaches.clearCaches()
    }
  }
}

/** The shared-state registry: an anchor builds once per cache epoch,
  * even under concurrent first use; a failed build is not kept;
  * ExtCaches.clearCaches releases every workload's shared relations;
  * warmChains settles every chain and reports every failure. */
class AnchorSpec extends SparkSpec {
  import spark.implicits._

  test("two threads released together on one anchor run its build once") {
    val runs = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          go.await()
          ExtCaches.anchor("spec.singleFlight", spark, "k") {
            runs.incrementAndGet()
            Thread.sleep(300) // hold the build open while the other caller arrives
            42
          }
        }
      }))
      go.countDown()
      assert(calls.map(_.get(60, TimeUnit.SECONDS)) == Seq(42, 42))
      assert(runs.get == 1)
    } finally {
      pool.shutdown()
      ExtCaches.clearCaches()
    }
  }

  test("a build that throws reaches its caller and the next call builds again") {
    val runs = new AtomicInteger
    def use(): Int = ExtCaches.anchor("spec.retry", spark, "k") {
      if (runs.incrementAndGet() == 1) throw new IllegalStateException("first build")
      7
    }
    try {
      assert(intercept[IllegalStateException](use()).getMessage == "first build")
      assert(use() == 7 && use() == 7)
      assert(runs.get == 2)
    } finally ExtCaches.clearCaches()
  }

  test("ExtCaches.clearCaches alone releases Chinook's shared view relation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_anchor").toString
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.parquet(s"$dir/$name.parquet")
    write("nation", Seq((0L, graft.queries.Chinook.USA), (1L, "NATION_1"))
      .toDF("n_nationkey", "n_name"))
    write("customer", Seq((1L, 0L), (2L, 1L)).toDF("c_custkey", "c_nationkey"))
    write("orders", Seq((10L, 1L), (11L, 2L)).toDF("o_orderkey", "o_custkey"))
    write("part", Seq((5L, "ROCK"), (6L, "JAZZ")).toDF("p_partkey", "p_type"))
    write("lineitem", Seq((10L, 5L, 100.0, 0.1), (10L, 6L, 50.0, 0.0),
        (11L, 5L, 70.0, 0.0))
      .toDF("l_orderkey", "l_partkey", "l_extendedprice", "l_discount"))
    val view = graft.queries.Chinook.usaGenreSales(spark, dir)
    assert(view.count() == 2)
    assert(view.storageLevel != StorageLevel.NONE)
    ExtCaches.clearCaches()
    assert(ExtCaches.trackedCount == 0)
    assert(view.storageLevel == StorageLevel.NONE)
    val rebuilt = graft.queries.Chinook.usaGenreSales(spark, dir)
    assert((rebuilt ne view) && rebuilt.storageLevel != StorageLevel.NONE)
    ExtCaches.clearCaches()
  }

  test("warmChains settles every chain, then throws the first failure with the rest suppressed") {
    val slowSettled = new AtomicBoolean(false)
    val fast = new IllegalArgumentException("fast chain")
    val slow = new IllegalStateException("slow chain")
    val e = intercept[IllegalArgumentException](ExtCaches.warmChains(
      "fast" -> (() => throw fast),
      "slow" -> { () =>
        Thread.sleep(500)
        slowSettled.set(true)
        throw slow
      }))
    assert(e eq fast)
    assert(slowSettled.get, "returned before the slow chain settled")
    assert(e.getSuppressed.toSeq == Seq(slow))
  }
}
