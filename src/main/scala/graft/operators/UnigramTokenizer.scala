package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training — the OTHER production tokenizer
  * family (Kudo, "Subword Regularization", ACL'18; the SentencePiece
  * unigram model), complementing BPE: instead of greedy merge rules,
  * a VOCABULARY of scored pieces, and segmentation = the
  * highest-probability piece sequence (Viterbi over the word's
  * substring lattice).
  *
  * This is the hard-EM (Viterbi-EM) variant of Kudo's trainer, chosen
  * for exact cross-engine replayability: the E-step segments every
  * distinct word with the CURRENT piece probabilities (Viterbi, not
  * lattice posteriors), the M-step recounts pieces from those hard
  * segmentations, and pruning keeps the top `vocabSize` pieces (plus
  * every corpus character, so coverage never breaks). All counts are
  * exact longs; the only doubles are p = c/T (one IEEE division) and
  * the Viterbi prefix products (left-to-right, deterministic), so the
  * DuckDB oracle replays training end to end via a chained-CTE DP —
  * the sqlLrChainFor pattern.
  *
  * Scale shape: the corpus is touched ONCE (Tokenizer.wordCounts — the
  * only corpus-sized shuffle in training); everything after runs on
  * the distinct-WORD table (vocabulary-sized: ~10⁵–10⁸ rows at 100 TB,
  * distributed — never collected). Viterbi runs ROWWISE per distinct
  * word (segmentWords): one NATIVE compiled expression per word with
  * the piece vocabulary in a hash map — ONE projection over the word
  * table, zero per-round shuffles, O(len·maxPieceLen) per word
  * independent of vocab size (r19; the r18 interpreted HOF form is
  * retained as the segmentWordsHof test twin, and the pre-r18
  * relational DP paid maxWordLen rounds of join + window + checkpoint
  * over the same table). The MODEL
  * (vocabSize-bounded) is the only driver-resident data, exactly
  * like K-Means centroids and PQ codebooks. Encoding joins the corpus's distinct words to their
  * segmentation once (word-dictionary hash join) and reassembles per
  * document — one token-stream shuffle; token/char counts per doc are
  * exact longs. */
object UnigramTokenizer {

  /** The trained model: (piece, count) with p = count/total — bounded
    * by vocabSize + alphabet, driver-resident like a codebook.
    * Canonical order (count desc, piece asc) for a deterministic
    * artifact.
    *
    * `byteFallback` (VERDICT r16 item 3 — SentencePiece's
    * --byte_fallback): with it OFF, a word containing a
    * training-unseen character encodes as ONE `<unk>` piece — the
    * whole word's text is destroyed. With it ON, such a word
    * segments through its characters: covered characters as their
    * single-char pieces, unseen characters as their UTF-8 bytes
    * rendered `<0xNN>` — no text is ever lost, zero `<unk>`
    * emissions. Fully-covered words segment IDENTICALLY in both
    * modes (the fallback only replaces the no-path branch).
    * Deliberate simplification vs SentencePiece: byte pieces do not
    * participate in the Viterbi lattice of covered words (they carry
    * no trained scores here), so a no-path word segments char-by-
    * char rather than through a mixed byte/piece lattice — the
    * conservative, exactly-replayable variant. The mode lives IN the
    * model (and its artifact) because an encoder must agree with the
    * trainer about it. */
  final case class UnigramModel(pieces: Seq[(String, Long)],
                                byteFallback: Boolean = false) {
    require(pieces.nonEmpty, "empty unigram vocabulary")
    pieces.foreach { case (p, c) =>
      require(p.nonEmpty && !p.contains(" "),
        s"malformed piece '$p' — pieces are non-empty and never contain spaces")
      require(c >= 1L, s"piece '$p' carries count $c — counts are >= 1")
    }
    require(pieces.map(_._1).distinct.length == pieces.length,
      "duplicate pieces in unigram vocabulary")
    require(!pieces.exists(_._1 == Unk),
      s"'$Unk' is the reserved no-path marker and cannot be a vocabulary " +
        "piece — a corpus containing the literal token segments through " +
        "its characters (pruneVocab filters the sentinel from every count " +
        "table), so encode output stays unambiguous")
    require(!byteFallback || !pieces.exists(p => isBytePiece(p._1)),
      "byte-fallback models reserve '<0xNN>' pieces for UTF-8 byte " +
        "emission — a vocabulary piece of that shape would make encode " +
        "output ambiguous (pruneVocab filters them at train time)")
    val total: Long = pieces.map(_._2).sum
    /** The Viterbi lattice window this model needs — its own longest
      * piece; anything wider wastes DP rounds, anything narrower
      * silently never uses the long pieces. */
    val maxPieceLen: Int = pieces.map(_._1.length).max
    /** The single-character pieces — what the byte-fallback keeps as
      * char pieces inside a no-path word. CODE POINTS, not UTF-16
      * units (ADVICE r17): a supplementary-plane character piece is
      * String.length == 2 but one character to Spark's length() and
      * DuckDB's len(), so classifying by UTF-16 length would
      * byte-expand a trained astral char in the engine while the
      * oracle keeps it — latent non-BMP divergence. */
    def charPieces: Set[String] = pieces.collect {
      case (p, _) if p.codePointCount(0, p.length) == 1 => p
    }.toSet
  }

  /** Marker piece for words with no lattice path under the frozen
    * vocabulary (a character unseen at training time) — byteFallback
    * OFF only; with it ON, no `<unk>` is ever emitted. */
  val Unk = "<unk>"

  /** The byte-piece shape `<0xNN>` (uppercase hex — Spark's and
    * DuckDB's hex() convention, so the oracle replays it verbatim). */
  private val BytePieceRe = "^<0x[0-9A-F]{2}>$"
  private[graft] def isBytePiece(p: String): Boolean = p.matches(BytePieceRe)

  /** Piece probabilities, computed driver-side: c.toDouble /
    * total.toDouble — the same IEEE division the oracle's
    * CAST(c AS DOUBLE)/CAST(T AS DOUBLE) performs, so Viterbi prefix
    * products are bit-identical. Ships to segmentWords as a plan map
    * literal (model-sized driver data — the KMeans-centroid / PQ-
    * codebook posture). */
  private def modelProbs(model: UnigramModel): Seq[(String, Double)] =
    model.pieces.map { case (p, c) => (p, c.toDouble / model.total.toDouble) }

  /** Seed piece counts: every substring of length 1..maxPieceLen of
    * every distinct word, weighted by word frequency — Kudo's seed
    * (all frequent substrings), exact integer counts. Input is the
    * (w, cnt) word table; output is substring-space-sized (bounded by
    * words × len × maxPieceLen), distributed. */
  private[operators] def seedCounts(words: DataFrame, maxPieceLen: Int): DataFrame = {
    val subs = flatten(transform(sequence(lit(1), least(length(col("w")), lit(maxPieceLen))),
      l => transform(sequence(lit(1), length(col("w")) - l + 1),
        i => col("w").substr(i, l))))
    words.select(col("cnt"), explode(subs).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).cast("long").as("c"))
  }

  /** Prune a (piece, c) count table to the working vocabulary: the
    * top `vocabSize` pieces by (c desc, piece asc), PLUS every corpus
    * character not already kept, at coalesce(its count, 1) — coverage
    * can never break (any word segments through characters), and the
    * floor only engages for characters the Viterbi segmentations
    * stopped using. One bounded TakeOrdered + one alphabet-sized
    * left join. */
  private def pruneVocab(counts0: DataFrame, chars: DataFrame,
                         vocabSize: Int,
                         byteFallback: Boolean = false): DataFrame = {
    // the sentinel is OUT-OF-BAND by construction (review r16): a
    // corpus literally containing '<unk>' would otherwise seed it as
    // a 5-char piece (maxPieceLen >= 5), the recount filter would
    // then misread genuine segmentations as no-path fallbacks, and
    // encode output would be ambiguous — such words segment through
    // their characters instead. Byte-fallback models additionally
    // reserve the '<0xNN>' shape (reachable only at maxPieceLen >= 6)
    // for the same reason.
    val counts1 = counts0.filter(col("piece") =!= lit(Unk))
    val counts = if (byteFallback)
      counts1.filter(!col("piece").rlike(BytePieceRe))
    else counts1
    val top = counts.orderBy(col("c").desc, col("piece")).limit(vocabSize)
    val charRows = chars.join(top.select(col("piece")), Seq("piece"), "left_anti")
      .join(counts, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("c"), lit(1L)).as("c"))
    top.unionByName(charRows)
  }

  /** Viterbi segmentation of a distinct-word table under a piece
    * vocabulary: per word, the piece sequence maximizing the product
    * of piece probabilities (prefix products left-to-right); ties
    * break to fewer pieces, then the lexicographically smaller piece
    * string — a total, engine-replayable order.
    *
    * The DP runs ROWWISE per distinct word (the r18 rewrite: ONE
    * distinct + ONE projection, zero per-round shuffles — the
    * pre-r18 relational DP paid maxWordLen rounds of join + window +
    * checkpoint over the dictionary; guide §2.4/§1.2). The vocabulary
    * rides in the plan as model-sized driver data — the
    * KMeans-centroid / PQ-codebook posture; vocabSize+alphabet-
    * bounded by pruneVocab, never corpus-derived.
    *
    * Words with NO path (an unseen character) fall back to one `Unk`
    * piece — or, with `fallbackChars = Some(vocab single chars)`, to
    * the per-character byte-fallback segmentation (covered chars as
    * char pieces, unseen chars as `<0xNN>` UTF-8 byte pieces).
    * Output: (w, pieces, np).
    *
    * Optimization-round rewrite (r19): the DP now runs as ONE native
    * compiled expression per word (`UnigramSegExpr` — the
    * PqEncodeExpr precedent) with the vocabulary in a HASH map. The
    * r18 interpreted HOF form probed the vocab through
    * `try_element_at` on a map literal — a LINEAR scan per probe, so
    * per word it paid O(len · maxPieceLen · |vocab|) string compares
    * plus boxed struct allocations per lattice step: the honest
    * 0.67× sf1 regression on q_unigram_encode, and unbounded
    * degradation at production vocab sizes (ADVICE r18). The kernel
    * replays every decision bit-identically (same code-point units,
    * same left-to-right IEEE products, same (prob desc, np asc,
    * pieces-binary asc) argbest, same fallbacks) — pinned against the
    * retained HOF twin `segmentWordsHof` in UnigramTokenizerSpec and
    * by the q_unigram_* oracle gates. Empty words are filtered at the
    * precondition (ADVICE r18: callers all pre-filter; enforcing it
    * here keeps the contract where the old crash lived). */
  private[graft] def segmentWords(words: DataFrame,
                                      vocab: Seq[(String, Double)],
                                      maxPieceLen: Int, maxWordLen: Int,
                                      fallbackChars: Option[Set[String]] = None)
      : DataFrame = {
    val w = words.select(col("w")).distinct()
      .filter(length(col("w")) > 0)
    // a word past maxWordLen is never segmented; the refusal below names it
    val seg = when(length(col("w")) <= maxWordLen,
      graft.functions.UnigramKernels.segmentCol(col("w"), vocab,
        maxPieceLen, fallbackChars.map(_.toSeq.sorted), Unk))
    // one pinned dictionary-sized frame — same storage contract as
    // before (review r16): the returned frame IS the LogicalRDD, so
    // unpersistLocalCheckpoint releases it; the kernel evaluates once
    // per row (pieces and np share the struct under codegen
    // subexpression elimination)
    val res = w.select(col("w"), seg.getField("pieces").as("pieces"),
        seg.getField("np").as("np"))
      .localCheckpoint(eager = true)
    // the lattice-bound contract stays loud: a word longer than
    // maxWordLen is refused, not silently left unsegmented. Checked on
    // the already-materialized frame (one cheap agg over the
    // LogicalRDD) instead of a second distinct pass over the input.
    val mxRow = res.agg(max(length(col("w")))).collect()(0)
    if (!mxRow.isNullAt(0)) {
      val maxLen = mxRow.getInt(0)
      if (maxLen > maxWordLen) {
        org.apache.spark.sql.graftglue.ColumnGlue.unpersistLocalCheckpoint(res)
        require(maxLen <= maxWordLen,
          s"UnigramTokenizer: a word of length $maxLen exceeds maxWordLen=" +
            s"$maxWordLen — the Viterbi lattice is bounded by design; raise " +
            "maxWordLen or pre-split pathological tokens upstream")
      }
    }
    res
  }

  /** The r18 interpreted rowwise DP, retained as the TEST TWIN the
    * native kernel is pinned bit-identical to (the mergeFoldHof
    * posture) — the form whose per-decision semantics the DuckDB
    * oracle mirrors. Not on any query path. */
  private[graft] def segmentWordsHof(words: DataFrame,
                                         vocab: Seq[(String, Double)],
                                         maxPieceLen: Int, maxWordLen: Int,
                                         fallbackChars: Option[Set[String]] = None)
      : DataFrame = {
    val w = words.select(col("w")).distinct()
    // the lattice-bound contract stays loud: a word longer than
    // maxWordLen is refused, not silently mis-segmented
    val mxRow = w.agg(max(length(col("w")))).collect()(0)
    if (!mxRow.isNullAt(0)) {
      val maxLen = mxRow.getInt(0)
      require(maxLen <= maxWordLen,
        s"UnigramTokenizer: a word of length $maxLen exceeds maxWordLen=" +
          s"$maxWordLen — the Viterbi lattice is bounded by design; raise " +
          "maxWordLen or pre-split pathological tokens upstream")
    }
    val pMap = typedlit(vocab.toMap)
    def fOk(s: Column) = s.getField("ok")
    def fPr(s: Column) = s.getField("prob")
    def fNp(s: Column) = s.getField("np")
    def fPc(s: Column) = s.getField("pieces")
    def dpSt(ok: Column, pr: Column, np: Column, pc: Column): Column =
      struct(ok.as("ok"), pr.as("prob"), np.as("np"), pc.as("pieces"))
    val wc = col("w")
    // acc(k) = best segmentation of the length-(k−1) prefix
    // (ok=false ⇒ unreachable); round j appends the best extension of
    // prefixes i ∈ [j−L, j) by piece substring(w, i+1, j−i) — exactly
    // the relational rounds, evaluated per row
    val full = aggregate(
      sequence(lit(1), length(wc)),
      array(dpSt(lit(true), lit(1.0), lit(0L), lit(""))),
      (acc, j) => {
        val cands = filter(
          transform(sequence(greatest(lit(1), j - lit(maxPieceLen) + lit(1)), j),
            s => {
              val prev = element_at(acc, s)
              val piece = wc.substr(s, j - s + lit(1))
              val p = try_element_at(pMap, piece)
              dpSt(fOk(prev) && p.isNotNull,
                fPr(prev) * p,
                fNp(prev) + lit(1L),
                when(fPc(prev) === "", piece)
                  .otherwise(concat(fPc(prev), lit(" "), piece)))
            }),
          c => fOk(c))
        val best = aggregate(cands,
          dpSt(lit(false), lit(0.0), lit(0L), lit("")),
          (b, c) => when(!fOk(b), c).otherwise(
            when(fPr(c) > fPr(b) ||
                (fPr(c) === fPr(b) && (fNp(c) < fNp(b) ||
                  (fNp(c) === fNp(b) && fPc(c) < fPc(b)))), c)
              .otherwise(b)))
        concat(acc, array(best))
      })
    val d = element_at(full, length(wc) + lit(1))
    // no-path words: one <unk> piece, or (byte-fallback) the per-char
    // expansion — rowwise, evaluated only on no-path rows
    val (pcsCol, npCol) = fallbackChars match {
      case None =>
        (when(fOk(d), fPc(d)).otherwise(lit(Unk)),
          when(fOk(d), fNp(d)).otherwise(lit(1L)))
      case Some(chars) =>
        // covered char -> its char piece; unseen char -> its UTF-8
        // bytes as '<0xNN>' (uppercase hex — hex()'s convention on
        // both engines). The char-piece set is vocab-bounded driver
        // data, shipped as one plan literal.
        val charsLit = typedlit(chars.toSeq.sorted)
        def bytePiecesOf(c: Column): Column = {
          // fully qualified: this object's own `encode` shadows
          // functions.encode
          val h = hex(org.apache.spark.sql.functions.encode(c, "UTF-8"))
          transform(sequence(lit(1), (length(h) / 2).cast("int")),
            i => concat(lit("<0x"), h.substr(i * 2 - 1, lit(2)), lit(">")))
        }
        val pieceArr = flatten(transform(
          filter(split(col("w"), ""), c => length(c) === 1),
          c => when(array_contains(charsLit, c), array(c))
            .otherwise(bytePiecesOf(c))))
        (when(fOk(d), fPc(d)).otherwise(array_join(pieceArr, " ")),
          when(fOk(d), fNp(d)).otherwise(size(pieceArr).cast("long")))
    }
    // one pinned dictionary-sized frame — same storage contract as the
    // old final-segmentation pin (review r16): the returned frame IS
    // the LogicalRDD, so unpersistLocalCheckpoint releases it; the DP
    // lattice evaluates once per row under codegen subexpression
    // elimination (pieces and np share the `d` subtree)
    w.select(wc, pcsCol.as("pieces"), npCol.as("np"))
      .localCheckpoint(eager = true)
  }

  /** Train a unigram-LM vocabulary: seed with all frequent substrings
    * (top 4·vocabSize + characters), then `rounds` hard-EM rounds —
    * Viterbi-segment every distinct word, recount pieces from the
    * segmentations, prune to vocabSize + characters. Returns the
    * model (vocabSize-bounded driver data, like bpeTrain's merges). */
  def train(df: DataFrame, textCol: String, vocabSize: Int,
            rounds: Int = 1, maxPieceLen: Int = 4,
            maxWordLen: Int = 32,
            byteFallback: Boolean = false): UnigramModel = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(rounds >= 1 && rounds <= 10, s"rounds must be in [1, 10], got $rounds")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val words = Tokenizer.wordCounts(df, textCol).localCheckpoint()
    val chars = words.select(explode(split(col("w"), "")).as("piece"))
      .filter(length(col("piece")) === 1).distinct().localCheckpoint()
    def collectModel(vocab: DataFrame): UnigramModel =
      UnigramModel(vocab.orderBy(col("c").desc, col("piece")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq, byteFallback)
    // seed keeps 4·vocabSize pieces (Kudo seeds several times the
    // target and lets EM + pruning pick) + characters.
    // No fallbackChars here: pruneVocab keeps every corpus character,
    // so a no-path word is impossible DURING training — the mode only
    // stamps the model (and reserves the byte-piece shape in pruning)
    var model = collectModel(pruneVocab(
      seedCounts(words, maxPieceLen), chars, vocabSize * 4, byteFallback))
    (1 to rounds).foreach { _ =>
      val seg = segmentWords(words, modelProbs(model),
        model.maxPieceLen, maxWordLen)
      val recount = seg.filter(col("pieces") =!= Unk)
        .join(words, "w")
        .select(col("cnt"), explode(split(col("pieces"), " ")).as("piece"))
        .groupBy("piece").agg(sum(col("cnt")).cast("long").as("c"))
      model = collectModel(pruneVocab(recount, chars, vocabSize, byteFallback))
      // the round's segmentation is fully consumed by the collect
      // above — free its pinned frame now (review r16)
      org.apache.spark.sql.graftglue.ColumnGlue.unpersistLocalCheckpoint(seg)
    }
    // nothing lazy escapes train (the model is driver data) — free
    // the corpus-derived pins too
    org.apache.spark.sql.graftglue.ColumnGlue.unpersistLocalCheckpoint(words)
    org.apache.spark.sql.graftglue.ColumnGlue.unpersistLocalCheckpoint(chars)
    model
  }

  /** Segment a corpus with a frozen model: the corpus's distinct
    * words Viterbi-segment ONCE (word-dictionary-sized DP), then one
    * hash join maps every word occurrence to its pieces and one
    * grouped reassembly rebuilds the per-document stream in word
    * order. The lattice window derives from the MODEL's own longest
    * piece — a caller-supplied window that undershot it would
    * silently never use the longer pieces, segmenting differently
    * than the trainer did (review r16). Unknown-character words
    * become one `Unk` piece. Output: (idCol, unigram, n_pieces) —
    * empty docs carry ("", 0).
    *
    * Storage note (ADVICE r16): the returned plan reads segmentWords'
    * eagerly pinned word-dictionary frame, so each call keeps ONE
    * dictionary-sized checkpoint alive until the returned DataFrame
    * is GC'd and the ContextCleaner releases it. This is the designed
    * trade: the result must stay lazily recomputable (Verify/Bench
    * write it to parquet without a second materialization), and
    * eagerly materializing a CORPUS-sized result to free a
    * DICTIONARY-sized pin would invert the sizes. Long-lived drivers
    * that encode many corpora should consume each result promptly and
    * drop the reference (train itself releases every pin before
    * returning — the model is driver data, nothing lazy escapes). */
  def encode(df: DataFrame, idCol: String, textCol: String,
             model: UnigramModel, maxWordLen: Int = 32): DataFrame = {
    val tokens = df.select(col(idCol),
      posexplode(filter(split(col(textCol), " "), w => length(w) > 0))
        .as(Seq("__pos", "w")))
    val seg = segmentWords(tokens.select(col("w")).distinct(),
      modelProbs(model), model.maxPieceLen, maxWordLen,
      if (model.byteFallback) Some(model.charPieces) else None)
    // reassembly is fully codegen (r19): sort_array's natural struct
    // order ≡ array_sort's default comparator on these non-null
    // elements (position is unique per doc, so the first field alone
    // decides), and .getField on the array-of-struct is the native
    // GetArrayStructFields projection — the old array_sort+transform
    // pair was an interpreted HOF per doc
    val perDoc = tokens.join(seg, "w")
      .groupBy(col(idCol)).agg(
        array_join(
          sort_array(collect_list(struct(col("__pos"), col("pieces"))))
            .getField("pieces"), " ").as("unigram"),
        sum(col("np")).cast("long").as("n_pieces"))
    // distinct anchor: empty/NULL-text docs keep a row (the oovRate
    // convention), one row per distinct id
    df.select(col(idCol)).distinct().join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("unigram"), lit("")).as("unigram"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }

  /** Tokenizer-quality report: per keyCol (source, lang, domain) the
    * corpus compression a trained unigram vocabulary achieves — the
    * bpeCompression twin for the second tokenizer family, and THE
    * acceptance metric before an expensive training run (a vocabulary
    * trained on one domain under-compresses the others).
    *
    * Scale shape: the distinct-word dictionary Viterbi-segments once,
    * then one hash join maps occurrences to piece counts and ONE
    * key-cardinality aggregation sums them — integer sums, one
    * division. Docs with no tokens still count in n_docs/n_chars.
    * Output: (keyCol, n_docs, n_pieces, n_chars, chars_per_piece).
    * Same storage note as encode: the lazy result pins one
    * dictionary-sized segmentation checkpoint until GC'd. */
  def compression(df: DataFrame, textCol: String, keyCol: String,
                  model: UnigramModel, maxWordLen: Int = 32): DataFrame = {
    val words = df.select(col(keyCol).as("__k"),
      explode(filter(split(col(textCol), " "), w => length(w) > 0)).as("w"))
    val seg = segmentWords(words.select(col("w")).distinct(),
      modelProbs(model), model.maxPieceLen, maxWordLen,
      if (model.byteFallback) Some(model.charPieces) else None)
    val pieces = words.join(seg, "w")
      .groupBy(col("__k")).agg(sum(col("np")).cast("long").as("n_pieces"))
    df.groupBy(col(keyCol).as("__k")).agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(length(col(textCol)).cast("long")).cast("long").as("n_chars"))
      .join(pieces, Seq("__k"), "left")
      .select(col("__k").as(keyCol), col("n_docs"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"), col("n_chars"),
        (col("n_chars").cast("double") /
          coalesce(col("n_pieces"), lit(0L)).cast("double"))
          .as("chars_per_piece"))
  }

  /** Unigram artifact format version; bumped on any schema change so
    * a loader refuses an artifact it does not understand (newer only
    * — the loadPQ v1 lesson: v1 predates byte_fallback and is safely
    * interpretable as byteFallback = false).
    * v2 (r17): + byte_fallback — the encoder must agree with the
    * trainer about the no-path convention, so the mode travels in
    * the artifact. */
  val UnigramFormatVersion = 2

  /** Persists a unigram vocabulary — the saveBpe discipline: pieces
    * land under `pieces/`, then the Artifacts meta (piece count,
    * total, byte_fallback) under `meta/`. Segmentation is a pure
    * function of the (piece, count) SET, so no ordering is stored;
    * load returns canonical order. */
  def saveUnigram(spark: SparkSession, path: String, model: UnigramModel): Unit = {
    import spark.implicits._
    model.pieces.toDF("piece", "c")
      .repartition(1).write.mode("overwrite").parquet(s"$path/pieces")
    Artifacts.writeMeta(spark, s"$path/meta", (UnigramFormatVersion,
        model.pieces.length.toLong, model.total, model.byteFallback),
      "version", "n_pieces", "total", "byte_fallback")
  }

  /** Loads a `saveUnigram` artifact, refusing loudly on: the
    * Artifacts meta refusals, a piece row count or total that
    * disagrees with the meta (partial/duplicated write), duplicate or
    * malformed pieces, or non-positive counts — a drifted vocabulary
    * segments DIFFERENTLY, silently corrupting every downstream token
    * count. */
  def loadUnigram(spark: SparkSession, path: String): UnigramModel = {
    val m = Artifacts.readMeta(spark, s"$path/meta", "unigram vocabulary",
      1 to UnigramFormatVersion)
    val (n, total) = (m.get[Long]("n_pieces"), m.get[Long]("total"))
    val byteFallback = m.since(2, "byte_fallback", false)
    val rows = Artifacts.scan(spark, s"$path/pieces").df.collect()
    require(rows.length.toLong == n,
      s"unigram pieces at $path have ${rows.length} rows but the meta says " +
        s"$n — partial or duplicated write, refusing to serve")
    val model = UnigramModel(rows
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("c")))
      .sortBy { case (p, c) => (-c, p) }.toSeq, byteFallback)
    require(model.total == total,
      s"unigram pieces at $path sum to ${model.total} but the meta says " +
        s"$total — corrupt artifact, refusing to serve")
    model
  }
}
