package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.UnigramTokenizer

/** Unigram-LM tokenizer (Kudo ACL'18, hard-EM variant): hand-computed
  * seed counts, one EM round, Viterbi segmentation with the (prob,
  * fewer-pieces, lexicographic) tie-break, UNK fallback, bounded-
  * lattice refusal, and the artifact round trip with its refusals. */
class UnigramTokenizerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("train: hand-checked seed + one hard-EM round") {
    // corpus: "aa" ×3, "ab" ×1.
    // seed (substrings weighted by word count): a=7, aa=3, ab=1, b=1;
    // T=12. Viterbi under seed: "aa" → [a a] (49/144 ≈ 0.340 beats
    // [aa] 0.25 — two frequent singles outscore one mid piece);
    // "ab" → [ab] (1/12 beats 7/144). Recount: a=6 (from the three
    // "aa"), ab=1; char b fell out of use → kept at the count-1
    // coverage floor. Canonical order (c desc, piece asc).
    val docs = Seq((1L, "aa aa ab"), (2L, "aa")).toDF("doc_id", "text")
    val model = UnigramTokenizer.train(docs, "text", vocabSize = 10,
      rounds = 1, maxPieceLen = 4, maxWordLen = 8)
    assert(model.pieces == Seq(("a", 6L), ("ab", 1L), ("b", 1L)),
      s"got ${model.pieces}")
    assert(model.total == 8L)
  }

  test("encode: per-doc reassembly in word order; empty docs kept; UNK fallback") {
    val train = Seq((1L, "aa aa ab"), (2L, "aa")).toDF("doc_id", "text")
    val model = UnigramTokenizer.train(train, "text", vocabSize = 10,
      rounds = 1, maxPieceLen = 4, maxWordLen = 8)
    // under the trained model (a=6/8, ab=1/8, b=1/8):
    // "aa" → [a a] (0.5625); "ab" → [ab] (0.125 beats 0.09375);
    // "xz" carries unseen chars → one <unk>; "" keeps its row
    val docs = Seq((1L, "aa ab"), (2L, "xz aa"), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = UnigramTokenizer.encode(docs, "doc_id", "text", model, maxWordLen = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("a a ab", 3L)), s"got ${got(1L)}")
    assert(got(2L) == ((s"${UnigramTokenizer.Unk} a a", 3L)), s"got ${got(2L)}")
    assert(got(3L) == (("", 0L)))
    assert(got(4L) == (("", 0L)))
    assert(got.size == 4)
  }

  test("Viterbi tie-breaks: equal probability resolves to fewer pieces, then lexicographic") {
    // vocab where "cd" and "c","d" tie exactly: p(cd) = p(c)·p(d)
    // requires counts c_cd·T = c_c·c_d — use c=4, d=4, cd=1, x=7 →
    // T=16: p(cd)=1/16, p(c)p(d)=(4/16)(4/16)=1/16. EXACT in doubles
    // (powers of two). Fewer pieces wins → "cd".
    val model = UnigramTokenizer.UnigramModel(
      Seq(("x", 7L), ("c", 4L), ("d", 4L), ("cd", 1L)))
    val docs = Seq((1L, "cd")).toDF("doc_id", "text")
    val got = UnigramTokenizer.encode(docs, "doc_id", "text", model, maxWordLen = 8).collect()(0)
    assert(got.getString(1) == "cd" && got.getLong(2) == 1L,
      s"np tie must break to fewer pieces: ${got.getString(1)}")
    // equal prob AND equal piece count: lexicographically smaller
    // pieces string wins — "ac" vs segmentations of "aca" with
    // p(a)=p(c): [a ca] vs [ac a] have equal prob and np → "a ca"
    val m2 = UnigramTokenizer.UnigramModel(
      Seq(("a", 4L), ("c", 4L), ("ac", 2L), ("ca", 2L), ("z", 4L)))
    val d2 = Seq((1L, "aca")).toDF("doc_id", "text")
    val g2 = UnigramTokenizer.encode(d2, "doc_id", "text", m2, maxWordLen = 8).collect()(0)
    assert(g2.getString(1) == "a ca",
      s"lexicographic tie-break: ${g2.getString(1)}")
  }

  test("the '<unk>' sentinel is out-of-band: a corpus containing it literally never mints it as a piece") {
    // review r16: with maxPieceLen >= 5 the literal token '<unk>'
    // would otherwise seed the 5-char substring '<unk>' as a piece —
    // the recount filter would then misread genuine segmentations as
    // no-path fallbacks and encode output would be ambiguous. The
    // sentinel is filtered from every count table; the literal word
    // segments through its characters, and a model constructed WITH
    // the sentinel refuses.
    val docs = Seq((1L, "<unk> <unk> data")).toDF("doc_id", "text")
    val model = UnigramTokenizer.train(docs, "text", vocabSize = 40,
      rounds = 1, maxPieceLen = 5, maxWordLen = 8)
    assert(!model.pieces.exists(_._1 == UnigramTokenizer.Unk),
      s"sentinel minted as a piece: ${model.pieces}")
    val got = UnigramTokenizer.encode(docs, "doc_id", "text", model,
      maxWordLen = 8).collect()(0)
    // the literal word segments through real pieces — n_pieces counts
    // them, and no per-word fallback marker appears
    assert(got.getLong(2) > 3L,
      s"literal '<unk>' words must segment through pieces: ${got.getString(1)}")
    intercept[IllegalArgumentException] {
      UnigramTokenizer.UnigramModel(Seq((UnigramTokenizer.Unk, 1L)))
    }
  }

  test("bounded lattice: a word past maxWordLen refuses loudly") {
    val model = UnigramTokenizer.UnigramModel(Seq(("a", 1L)))
    val docs = Seq((1L, "a" * 20)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      UnigramTokenizer.encode(docs, "doc_id", "text", model, maxWordLen = 8).collect()
    }
    assert(e.getMessage.contains("maxWordLen"))
  }

  test("bounded lattice: a 200 000-character word is refused without being segmented") {
    val model = UnigramTokenizer.UnigramModel(Seq(("a", 1L), ("aa", 1L), ("ab", 1L)))
    val docs = Seq((1L, "ab " + "ab" * 100000)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException] {
      UnigramTokenizer.encode(docs, "doc_id", "text", model, maxWordLen = 8).collect()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("length 200000 exceeds maxWordLen=8"), e.getMessage)
    assert(secs < 20.0, s"refusal took $secs s")
  }

  test("saveUnigram/loadUnigram: canonical round trip; drifted artifacts refused") {
    val train = Seq((1L, "aa aa ab"), (2L, "aa")).toDF("doc_id", "text")
    val model = UnigramTokenizer.train(train, "text", vocabSize = 10,
      rounds = 1, maxPieceLen = 4, maxWordLen = 8)
    val path = java.nio.file.Files.createTempDirectory("unigram").toString + "/v"
    UnigramTokenizer.saveUnigram(spark, path, model)
    val loaded = UnigramTokenizer.loadUnigram(spark, path)
    assert(loaded.pieces == model.pieces && loaded.total == model.total)
    // wrong version refused
    val vPath = path + "_v"
    spark.read.parquet(s"$path/pieces").write.parquet(s"$vPath/pieces")
    spark.read.parquet(s"$path/meta")
      .withColumn("version", lit(99)).write.parquet(s"$vPath/meta")
    val e1 = intercept[IllegalArgumentException] {
      UnigramTokenizer.loadUnigram(spark, vPath) }
    assert(e1.getMessage.contains("version"))
    // partial pieces write refused (row count vs meta)
    val pPath = path + "_p"
    spark.read.parquet(s"$path/pieces").limit(1).write.parquet(s"$pPath/pieces")
    spark.read.parquet(s"$path/meta").write.parquet(s"$pPath/meta")
    val e2 = intercept[IllegalArgumentException] {
      UnigramTokenizer.loadUnigram(spark, pPath) }
    assert(e2.getMessage.contains("rows"))
    // a count-drifted artifact refused (total vs meta) — a drifted
    // probability table segments DIFFERENTLY, silently
    val tPath = path + "_t"
    spark.read.parquet(s"$path/pieces")
      .withColumn("c", col("c") + 1L).write.parquet(s"$tPath/pieces")
    spark.read.parquet(s"$path/meta").write.parquet(s"$tPath/meta")
    val e3 = intercept[IllegalArgumentException] {
      UnigramTokenizer.loadUnigram(spark, tPath) }
    assert(e3.getMessage.contains("total") || e3.getMessage.contains("sum"))
    // malformed model refused at construction
    intercept[IllegalArgumentException] {
      UnigramTokenizer.UnigramModel(Seq(("a b", 1L)))
    }
    intercept[IllegalArgumentException] {
      UnigramTokenizer.UnigramModel(Seq(("a", 0L)))
    }
    intercept[IllegalArgumentException] {
      UnigramTokenizer.UnigramModel(Seq(("a", 1L), ("a", 2L)))
    }
  }

  test("byte fallback: unseen chars become UTF-8 byte pieces, zero <unk>, covered words unchanged") {
    // VERDICT r16 item 3 — SentencePiece --byte_fallback: no text is
    // ever destroyed. Train on ascii; encode a mixed-script corpus.
    val train = Seq((1L, "aa aa ab"), (2L, "aa")).toDF("doc_id", "text")
    val fb = UnigramTokenizer.train(train, "text", vocabSize = 10,
      rounds = 1, maxPieceLen = 4, maxWordLen = 8, byteFallback = true)
    val plain = UnigramTokenizer.train(train, "text", vocabSize = 10,
      rounds = 1, maxPieceLen = 4, maxWordLen = 8)
    // identical vocabulary — the mode changes only the no-path branch
    assert(fb.pieces == plain.pieces && fb.byteFallback && !plain.byteFallback)
    // 'é' is U+00E9 = 0xC3 0xA9 in UTF-8 (two bytes — the multi-byte
    // loop is exercised); '5' is one byte 0x35; 'a'/'b' are covered
    // chars and stay as char pieces INSIDE the fallback word
    val docs = Seq((1L, "aa ab"), (2L, "aé5b aa"), (3L, "xz"))
      .toDF("doc_id", "text")
    val got = UnigramTokenizer.encode(docs, "doc_id", "text", fb, maxWordLen = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // covered words: identical to the plain model's output
    val gotPlain = UnigramTokenizer.encode(docs, "doc_id", "text", plain,
        maxWordLen = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == gotPlain(1L) && got(1L) == (("a a ab", 3L)))
    assert(got(2L) == (("a <0xC3> <0xA9> <0x35> b a a", 7L)), s"got ${got(2L)}")
    // x and z are unseen ascii chars → their bytes
    assert(got(3L) == (("<0x78> <0x7A>", 2L)), s"got ${got(3L)}")
    // zero <unk> anywhere
    assert(!got.values.exists(_._1.contains(UnigramTokenizer.Unk)))
    // the mode round-trips through the v2 artifact
    val path = java.nio.file.Files.createTempDirectory("unigram_fb").toString + "/v"
    UnigramTokenizer.saveUnigram(spark, path, fb)
    val loaded = UnigramTokenizer.loadUnigram(spark, path)
    assert(loaded.byteFallback && loaded.pieces == fb.pieces)
    // a v1 artifact (no byte_fallback column) loads as fallback-OFF
    val v1Path = path + "_v1"
    spark.read.parquet(s"$path/pieces").write.parquet(s"$v1Path/pieces")
    spark.read.parquet(s"$path/meta")
      .withColumn("version", lit(1)).drop("byte_fallback")
      .write.parquet(s"$v1Path/meta")
    assert(!UnigramTokenizer.loadUnigram(spark, v1Path).byteFallback)
    // byte-piece-shaped vocabulary pieces are out-of-band: refused at
    // model construction, and never minted by a byte-fallback train
    // even when the corpus contains the literal text and maxPieceLen
    // admits the 6-char shape
    intercept[IllegalArgumentException] {
      UnigramTokenizer.UnigramModel(Seq(("a", 2L), ("<0x41>", 1L)),
        byteFallback = true)
    }
    val tricky = Seq((1L, "<0x41> <0x41> <0x41> aa")).toDF("doc_id", "text")
    val tm = UnigramTokenizer.train(tricky, "text", vocabSize = 20,
      rounds = 1, maxPieceLen = 6, maxWordLen = 8, byteFallback = true)
    assert(!tm.pieces.exists(p => UnigramTokenizer.isBytePiece(p._1)),
      s"byte-shaped piece minted: ${tm.pieces}")
  }

  test("native Viterbi kernel ≡ interpreted HOF twin on adversarial words, both fallback modes (r19)") {
    // power-of-two probabilities so (prob, np, pieces) tie-breaks are
    // hit EXACTLY; multi-byte ('é') and astral ('𝄞') chars exercise
    // the code-point units and the binary (UTF-8 byte) string
    // tie-break order; unseen chars exercise both no-path fallbacks
    val vocab = Seq(("a", 0.25), ("c", 0.25), ("ac", 0.0625),
      ("ca", 0.0625), ("é", 0.125), ("𝄞", 0.0625), ("b", 0.125),
      ("aca", 0.015625), ("bb", 0.015625))
    val words = Seq("a", "aca", "acaca", "cacac", "aéa", "𝄞a𝄞", "ab",
      "ba", "zz", "a𝄢é", "bbbb", "acacacacacacacac", "éb𝄞",
      "q", "aq", "qa", "caé").toDF("w")
    for (fb <- Seq(None, Some(Set("a", "c", "é", "𝄞", "b")))) {
      val kern = UnigramTokenizer.segmentWords(words, vocab,
          maxPieceLen = 3, maxWordLen = 32, fallbackChars = fb)
        .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
      val hof = UnigramTokenizer.segmentWordsHof(words, vocab,
          maxPieceLen = 3, maxWordLen = 32, fallbackChars = fb)
        .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(kern == hof, s"kernel vs HOF twin diverged (fallback=$fb):\n" +
        s"kernel: $kern\nhof:    $hof")
    }
    // the kernel enforces the non-empty-word precondition (ADVICE
    // r18): an empty word is filtered, not crashed on or segmented
    val withEmpty = Seq("", "aca").toDF("w")
    val seg = UnigramTokenizer.segmentWords(withEmpty, vocab,
      maxPieceLen = 3, maxWordLen = 32).collect()
    assert(seg.map(_.getString(0)).toSeq == Seq("aca"))
  }

  test("byte fallback, non-BMP: a trained astral char piece stays a char piece (code points, not UTF-16 units)") {
    // ADVICE r17: '𝄞' (U+1D11E) is TWO UTF-16 units but ONE character
    // to Spark's length() and DuckDB's len(); classifying char pieces
    // by String.length would byte-expand a TRAINED astral char inside
    // a no-path word while the oracle (code-point semantics) keeps it.
    val clef = "𝄞" // 𝄞
    val train = Seq((1L, s"${clef}a ${clef}a a")).toDF("doc_id", "text")
    val fb = UnigramTokenizer.train(train, "text", vocabSize = 10,
      rounds = 1, maxPieceLen = 4, maxWordLen = 8, byteFallback = true)
    assert(fb.charPieces.contains(clef),
      s"astral single-character piece not classified as a char piece: " +
        s"${fb.pieces}")
    // covered astral word: the happy Viterbi path, untouched
    val docs = Seq((1L, s"${clef}a"), (2L, s"${clef}z"), (3L, "𝄢"))
      .toDF("doc_id", "text")
    val got = UnigramTokenizer.encode(docs, "doc_id", "text", fb, maxWordLen = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // no-path word (z unseen): the trained astral char STAYS a char
    // piece; only z byte-expands — pre-fix this read
    // '<0xF0> <0x9D> <0x84> <0x9E> <0x7A>'
    assert(got(2L) == ((s"$clef <0x7A>", 2L)), s"got ${got(2L)}")
    // an UNSEEN astral char ('𝄢' U+1D122) byte-expands through the
    // 4-byte UTF-8 loop
    assert(got(3L) == (("<0xF0> <0x9D> <0x84> <0xA2>", 4L)), s"got ${got(3L)}")
    assert(!got.values.exists(_._1.contains(UnigramTokenizer.Unk)))
  }
}
