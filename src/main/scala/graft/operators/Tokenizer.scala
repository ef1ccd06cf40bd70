package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training — the vocabulary-induction
  * half of a training-data pipeline (Sennrich et al., "Neural Machine
  * Translation of Rare Words with Subword Units", ACL'16; no
  * end-of-word marker, plain character alphabet).
  *
  * Scale shape: the corpus is touched ONCE — `wordCounts` is the only
  * corpus-sized shuffle. Every BPE iteration after that runs on the
  * word-frequency table (vocabulary-sized: ~10⁵–10⁸ rows at 100 TB,
  * distributed — never collected), and the only driver-side data per
  * round is the single argmax merge pair. Each round localCheckpoints
  * the vocabulary so the plan does not grow with the merge count (the
  * same lineage-cut idiom as the label-propagation loop).
  *
  * Symbols are space-joined inside a word's `sym` string (symbols
  * never contain spaces — they are concatenations of characters of a
  * whitespace-split word), and the merge step is a greedy
  * left-to-right fold over the symbol list: appending each symbol
  * unless the accumulator's last symbol is `l` and the incoming
  * symbol is `r`, in which case the tail rewrites to the merged
  * symbol. Replaying the fold left to right reproduces exactly the
  * reference BPE behavior on repeats ("a a b a b b" + (a,b) →
  * "a ab ab b" — the merged symbol never re-merges within the same
  * round). Shipped as a leftmost-first whole-symbol regexp_replace
  * per round (codegen'd; `mergeFold` — equivalence argument there);
  * `mergeFoldHof` is the aggregate-HOF twin the oracle SQL mirrors. */
object Tokenizer {

  /** Word-frequency table: (w, cnt). The one corpus-sized shuffle of
    * the whole training pass; empty tokens (consecutive spaces) are
    * dropped. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).cast("long").as("cnt"))

  /** Character split as a space-joined symbol string: "low" → "l o w".
    * One codegen'd regex pass (every match of `(?s).` is exactly one
    * code point — the same unit Spark's length()/substr() count, and
    * valid UTF-8 input cannot surface lone surrogates) instead of the
    * old transform(sequence)+substr HOF chain, which was interpreted
    * (HOFs are CodegenFallback) and O(len²) in per-char substr calls. */
  private def charSeq(w: Column): Column =
    array_join(regexp_extract_all(w, lit("(?s)."), lit(0)), " ")

  /** One greedy left-to-right merge pass of pair (l, r) over a symbol
    * string, as a single leftmost-first regex replacement: replacing
    * non-overlapping whole-symbol occurrences of "l r" left to right
    * is EXACTLY the greedy fold (`mergeFoldHof`, the pinned twin) —
    * the scan resumes after each replaced pair, so a just-merged
    * symbol never re-merges within the round (l+r can't equal l, r is
    * non-empty), which is the fold's tail-rewrite rule. Boundaries:
    * `(^| )` on the left (restored via $1) and a lookahead `(?= |\z)`
    * on the right so only whole symbols match (`\z`, not `$`, which
    * would falsely anchor before a trailing newline CHARACTER inside
    * a symbol). Symbols are corpus text — Pattern.quote/
    * quoteReplacement escape regex metacharacters exactly.
    * regexp_replace is whole-stage-codegen'd with a cached compiled
    * pattern; the old aggregate-HOF fold was interpreted and rebuilt
    * the accumulator string per symbol (O(len²) per word per round).
    * Bit-equivalence with the fold is pinned in TokenizerSpec. */
  private[graft] def mergePattern(l: String, r: String): String =
    "(^| )" + java.util.regex.Pattern.quote(l) + " " +
      java.util.regex.Pattern.quote(r) + "(?= |\\z)"
  private[graft] def mergeFold(sym: Column, l: String, r: String): Column =
    regexp_replace(sym, mergePattern(l, r),
      "$1" + java.util.regex.Matcher.quoteReplacement(l + r))

  /** The aggregate-HOF twin of mergeFold — the form the oracle SQL
    * mirrors (list_reduce) — kept as the equivalence oracle for
    * TokenizerSpec's fold-vs-regex pins. Not on any query path. */
  private[graft] def mergeFoldHof(sym: Column, l: String, r: String): Column = {
    val ss = split(sym, " ")
    val lLit = lit(l)
    when(size(ss) <= 1, sym).otherwise(
      aggregate(slice(ss, lit(2), size(ss) - 1), element_at(ss, 1), (acc, x) =>
        when((acc === lLit || acc.endsWith(lit(" " + l))) && x === lit(r),
          when(acc === lLit, lit(l + r))
            .otherwise(concat(acc.substr(lit(1), length(acc) - lit(l.length + 1)),
              lit(" " + l + r))))
          .otherwise(concat(acc, lit(" "), x))))
  }

  /** Weighted adjacent-pair counts over a (sym, cnt) vocabulary:
    * (pair = "l r", c = Σ cnt over occurrences). Vocabulary-sized in,
    * alphabet²-bounded out. */
  private def pairCounts(vocab: DataFrame): DataFrame = {
    val ss = split(col("sym"), " ")
    vocab.select(col("cnt"), explode(
        when(size(ss) >= 2, transform(sequence(lit(1), size(ss) - 1),
          i => concat(element_at(ss, i), lit(" "), element_at(ss, i + 1))))
          .otherwise(typedlit(Seq.empty[String]))).as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).cast("long").as("c"))
  }

  /** First-iteration pair statistics — the "what would BPE merge
    * next" profile, also the standard corpus bigram-of-characters
    * report. Output: (pair, pair_count, rank 1..topK), ranked by
    * count desc then pair asc (the pair STRING ordering is the
    * tie-break contract — identical on both engines by construction).
    * Global top-K is a bounded TakeOrdered, never a full sort. */
  def bpePairStats(df: DataFrame, textCol: String, topK: Int = 200): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val vocab = wordCounts(df, textCol)
      .select(charSeq(col("w")).as("sym"), col("cnt"))
    pairCounts(vocab)
      .orderBy(col("c").desc, col("pair")).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("pair"))).cast("long"))
      .select(col("pair"), col("c").as("pair_count"), col("rank"))
  }

  /** Train `merges` BPE merge rules. Returns (step 1.., pair = "l r",
    * pair_count) in merge order; stops early if no pair remains (all
    * words fused to single symbols). Each round: one vocabulary-sized
    * grouped sum, a 1-row argmax collect, one fold rewrite, one
    * eager checkpoint. */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val spark = df.sparkSession
    var vocab = wordCounts(df, textCol)
      .select(charSeq(col("w")).as("sym"), col("cnt"))
      .localCheckpoint()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val best = pairCounts(vocab).orderBy(col("c").desc, col("pair")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val c = best(0).getLong(1)
        val Array(l, r) = pair.split(" ", 2)
        learned += ((step.toLong, pair, c))
        vocab = vocab.withColumn("sym", mergeFold(col("sym"), l, r)).localCheckpoint()
        step += 1
      }
    }
    vocab.unpersist()
    import spark.implicits._
    learned.toSeq.toDF("step", "pair", "pair_count")
  }

  /** Tokenizer artifact format version; bumped on any schema change
    * so a loader refuses an artifact it does not understand. */
  val MergesFormatVersion = 1

  /** Persists an ordered BPE merge list as a versioned parquet
    * artifact — "train once, tokenize everywhere": every downstream
    * consumer (token counting, packing, budget cuts) must segment
    * with the SAME frozen rules or its token accounting silently
    * drifts from the model's. Rules land under `merges/` with their
    * 1-based training step; the merge count lands in the Artifacts
    * meta under `meta/`. */
  def saveBpe(spark: org.apache.spark.sql.SparkSession, path: String,
              merges: Seq[(String, String)]): Unit = {
    require(merges.nonEmpty, "saveBpe: empty merge list — nothing to persist")
    merges.foreach { case (l, r) =>
      require(l.nonEmpty && r.nonEmpty && !l.contains(" ") && !r.contains(" "),
        s"saveBpe: malformed merge pair ('$l', '$r') — symbols are " +
          "non-empty and never contain spaces")
    }
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i + 1L, l, r) }
      .toDF("step", "l", "r")
      .repartition(1).write.mode("overwrite").parquet(s"$path/merges")
    Artifacts.writeMeta(spark, s"$path/meta",
      (MergesFormatVersion, merges.length.toLong), "version", "n_merges")
  }

  /** Loads a `saveBpe` artifact, refusing loudly on: the Artifacts
    * meta refusals, a merge row count that disagrees with
    * the meta, steps that are not exactly 1..n (the fold ORDER is the
    * tokenizer — a reordered or gappy artifact segments differently),
    * or malformed symbols. Returns the rules in training order, ready
    * for `applyBpe`. */
  def loadBpe(spark: org.apache.spark.sql.SparkSession, path: String)
      : Seq[(String, String)] = {
    val n = Artifacts.readMeta(spark, s"$path/meta", "BPE merge list",
      MergesFormatVersion to MergesFormatVersion).get[Long]("n_merges")
    val rows = Artifacts.scan(spark, s"$path/merges").df.collect()
    require(rows.length.toLong == n,
      s"BPE merges at $path have ${rows.length} rows but the meta row says $n — " +
        "partial or duplicated write, refusing to serve")
    val ordered = rows.map(r =>
        (r.getAs[Long]("step"), r.getAs[String]("l"), r.getAs[String]("r")))
      .sortBy(_._1)
    require(ordered.map(_._1).toSeq == (1L to n).toSeq,
      s"BPE merges at $path have corrupt steps ${ordered.map(_._1).mkString(",")} — " +
        "the fold order IS the tokenizer, refusing to serve")
    ordered.foreach { case (step, l, r) =>
      require(l != null && r != null && l.nonEmpty && r.nonEmpty
          && !l.contains(" ") && !r.contains(" "),
        s"BPE merges at $path: malformed pair at step $step")
    }
    ordered.map { case (_, l, r) => (l, r) }.toSeq
  }

  /** Segment a corpus with an ordered merge list (from `bpeTrain`'s
    * output — k-bounded driver data by construction). Rowwise: every
    * word char-splits, then each merge rule folds over it in training
    * order; the document's subwords join into one space-separated
    * stream. Zero shuffles — scales as corpus/cores. Output:
    * (idCol, bpe, n_subwords). */
  /** The whole document as ONE symbol stream with words separated by
    * a DOUBLE space: symbols never contain spaces and within a word
    * they are single-space-joined, so "l r" (single space) can never
    * match across a word boundary — each merge round is then ONE
    * codegen'd regexp_replace over the document instead of a per-word
    * HOF transform of interpreted folds. Collapsing the boundaries
    * back to single spaces afterwards reproduces array_join(syms, " ")
    * exactly (each boundary is exactly two spaces: words are non-empty
    * and merges only ever fuse "l r" → "lr" around single spaces). */
  private def docSymStream(textCol: String, merges: Seq[(String, String)]): Column = {
    val words = filter(split(col(textCol), " "), w => length(w) > 0)
    var sym: Column = array_join(transform(words, w => charSeq(w)), "  ")
    merges.foreach { case (l, r) => sym = mergeFold(sym, l, r) }
    replace(sym, lit("  "), lit(" "))
  }

  def applyBpe(df: DataFrame, idCol: String, textCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    // count via re-split of the joined string ON PURPOSE: the chain
    // result IS projected (bpe), so codegen subexpression elimination
    // shares one evaluation across both references.
    val bpe = docSymStream(textCol, merges)
    df.select(col(idCol), bpe.as("bpe"),
      when(bpe === "", lit(0L))
        .otherwise(size(split(bpe, " ")).cast("long")).as("n_subwords"))
  }

  /** Tokenizer-quality report: per keyCol (source, lang, domain) the
    * corpus compression a trained merge list achieves — total
    * subwords, total characters, and chars-per-subword (higher =
    * better compression = the tokenizer fits that slice). THE
    * acceptance metric for a tokenizer before an expensive training
    * run, and the per-domain fairness audit (a tokenizer trained on
    * one domain under-compresses the others).
    *
    * Scale shape: applyBpe's zero-shuffle rowwise fold, then ONE
    * key-cardinality partial aggregation — integer sums, one
    * division. Output: (keyCol, n_docs, n_subwords, n_chars,
    * chars_per_subword). */
  def bpeCompression(df: DataFrame, textCol: String, keyCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    // token count off the merged document stream: size(split(bpe)) =
    // Σ_w per-word symbol counts (words are non-empty and symbols
    // never contain spaces; an empty doc is the empty string = 0);
    // the regex chain evaluates once under codegen subexpression
    // elimination, same as applyBpe
    val bpe = docSymStream(textCol, merges)
    val nTok = when(bpe === "", lit(0L))
      .otherwise(size(split(bpe, " ")).cast("long"))
    df.select(col(keyCol), nTok.as("__t"),
      length(col(textCol)).cast("long").as("__c"))
      .groupBy(col(keyCol)).agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum("__t").cast("long").as("n_subwords"),
        sum("__c").cast("long").as("n_chars"))
      .select(col(keyCol), col("n_docs"), col("n_subwords"), col("n_chars"),
        (col("n_chars").cast("double") / col("n_subwords").cast("double"))
          .as("chars_per_subword"))
  }
}
