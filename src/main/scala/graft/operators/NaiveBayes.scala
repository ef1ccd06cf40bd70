package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes for binary text classification — the
  * one-pass count-based trainer that complements `Classifier`'s
  * iterative GD logistic regression (the other classic corpus-filter
  * model, cf. the fastText/CCNet quality-classifier family).
  *
  * Training is ONE aggregation pass: per-(token, class) term counts,
  * reduced to per-token binary log-odds under add-α (Laplace)
  * smoothing:
  *
  *   w(t)  = ln(c₁(t)+α) − ln(T₁+αV) − ln(c₀(t)+α) + ln(T₀+αV)
  *   bias  = ln(n₁) − ln(n₀)                       (doc-count prior)
  *   oovW  = ln(T₀+αV) − ln(T₁+αV)                 (both counts 0)
  *
  * with c_c(t) = occurrences of t in class c, T_c = total tokens in
  * class c, V = training vocabulary size, n_c = docs in class c.
  * A document's log-odds score is Σ_t tf(t)·w(t) + oovW·tf(oov) +
  * bias; positive means class 1.
  *
  * 100 TB posture — deliberately the OTHER shape from `Classifier`:
  *  - the model is a vocab-sized TABLE, not driver state: training is
  *    one `groupBy(token)` partial-agg shuffle whose output is V rows,
  *    and the driver holds exactly four scalars (T₁, T₀, V, bias);
  *  - scoring joins the per-(doc, token) tf relation against the
  *    weight table — broadcast when the vocabulary fits (the common
  *    case; Spark's auto-broadcast threshold decides), a plain token
  *    equi-join otherwise — then one partial-agg per-doc sum. No
  *    plan-literal ceiling: a 100M-token vocabulary works where an
  *    array literal would not;
  *  - out-of-vocabulary tokens at scoring time take the smoothed
  *    zero-count odds `oovW` via a LEFT join + coalesce, so serving
  *    a corpus the model never saw is total, not an error.
  *
  * All counts are exact integers; the log arithmetic is continuous
  * (no ordering/tie decisions), which is the contract that lets
  * oracle rows compare on a quantized grid. */
object NaiveBayes {

  /** Trained model: `weights` = (token, c1, c0, w) — per-token class
    * counts and binary log-odds; scalars are the four driver-held
    * values. `alpha` and the totals travel with the model so scoring
    * is self-contained. */
  final case class NBModel(weights: DataFrame, bias: Double, oovW: Double,
                           vocabSize: Long, alpha: Double)

  /** Per-(doc, token) term frequencies from a whitespace-tokenized
    * text column — the shared front half of train and score. One
    * narrow explode + one partial-agg groupBy. */
  def termFreqs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** One-pass trainer. `labelCol` must be 0/1 (checked against the
    * collected doc counts: a third value would make n0+n1 disagree
    * with the total). Returns the weight table un-materialized; the
    * caller decides caching (scoring both classes of query against
    * one model should `.cache()` it). */
  def trainMultinomial(df: DataFrame, idCol: String, textCol: String,
                       labelCol: String, alpha: Double = 1.0): NBModel = {
    require(alpha > 0.0 && alpha.isFinite, s"alpha must be positive, got $alpha")
    val y = col(labelCol).cast("int")
    val docCounts = df.groupBy(y.as("y")).agg(count(lit(1)).as("n"))
      .collect().map { r =>
        require(!r.isNullAt(0),
          s"label column '$labelCol' contains NULLs — labels must be 0/1")
        r.getInt(0) -> r.getLong(1)
      }.toMap
    require(docCounts.keySet.subsetOf(Set(0, 1)),
      s"labels must be 0/1, saw classes ${docCounts.keySet.toSeq.sorted.mkString(",")}")
    val (n1, n0) = (docCounts.getOrElse(1, 0L), docCounts.getOrElse(0, 0L))
    require(n1 > 0 && n0 > 0,
      s"both classes must be present to train: n1=$n1 n0=$n0")

    val tf = termFreqs(df, idCol, textCol)
      .join(df.select(col(idCol), y.as("__y")), Seq(idCol))
    // ONE shuffle to vocab-sized output: per-token counts in each class
    val perToken = tf.groupBy(col("token"))
      .agg(sum(when(col("__y") === 1, col("tf")).otherwise(0L)).as("c1"),
        sum(when(col("__y") === 0, col("tf")).otherwise(0L)).as("c0"))
      .localCheckpoint() // pin: totals job + weight plan see one scan
    val totals = perToken.agg(sum("c1"), sum("c0"), count(lit(1))).head()
    val (t1, t0, v) = (totals.getLong(0), totals.getLong(1), totals.getLong(2))
    val (d1, d0) = (t1 + alpha * v, t0 + alpha * v)
    val weights = perToken.withColumn("w",
      log(col("c1") + alpha) - log(lit(d1))
        - (log(col("c0") + alpha) - log(lit(d0))))
    NBModel(weights, bias = math.log(n1.toDouble) - math.log(n0.toDouble),
      oovW = math.log(d0) - math.log(d1), vocabSize = v, alpha = alpha)
  }

  /** Per-doc binary log-odds: Σ tf·w over the weight-table join
    * (LEFT, so unseen tokens take the smoothed `oovW`), plus the
    * prior. Output: (idCol, logOdds). Positive ⇒ class 1. */
  def scoreLogOdds(df: DataFrame, idCol: String, textCol: String,
                   model: NBModel): DataFrame =
    termFreqs(df, idCol, textCol)
      .join(model.weights.select(col("token"), col("w")), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg((sum(col("tf") * coalesce(col("w"), lit(model.oovW)))
        + lit(model.bias)).as("logOdds"))

  /** Model artifact format version; bumped on any schema change so a
    * loader can refuse an artifact it does not understand instead of
    * silently mis-scoring. Independent of `Classifier`'s version —
    * the formats evolve separately. */
  // v2: the meta row gained `n_rows` — the LANDED weight count the
  // loader's drift check compares against (ADVICE r13; vocab_size is
  // the model's semantic value, which an out-of-band-constructed
  // NBModel may legitimately disagree with). v1 artifacts are refused
  // loudly, the contract versioning exists for. BINARY format only:
  // the multiclass artifact schema did not change, so it keeps its
  // own constant below — one format's evolution must not spuriously
  // invalidate the other's existing artifacts (review r14).
  val ModelFormatVersion = 2

  /** Multiclass artifact format version — independent of the binary
    * `ModelFormatVersion` (the formats evolve separately; multiclass
    * has carried its landed `n_weights` count since it shipped). */
  val MulticlassFormatVersion = 1

  /** Persists an `NBModel` — the `Classifier.saveLogReg` symmetry for
    * the TABLE-shaped model (VERDICT r12 item 2). The weight table
    * (vocab-sized — too big for a one-row array at 100 TB
    * vocabularies) lands under `weights/`; the driver scalars and the
    * READ-BACK landed weight row count (ADVICE r13) land in the
    * Artifacts meta under `meta/`, so a partial/corrupt weights write
    * is refused at load instead of silently under-scoring. Doubles
    * round-trip bit-exactly through parquet, so a loaded model scores
    * identically to the in-memory one. */
  def saveNB(spark: org.apache.spark.sql.SparkSession, path: String,
             model: NBModel): Unit = {
    model.weights.select(col("token"), col("c1"), col("c0"), col("w"))
      .write.mode("overwrite").parquet(s"$path/weights")
    val n = Artifacts.scan(spark, s"$path/weights").rows
    Artifacts.writeMeta(spark, s"$path/meta", (ModelFormatVersion, model.bias,
        model.oovW, model.vocabSize, model.alpha, n),
      "version", "bias", "oov_w", "vocab_size", "alpha", "n_rows")
  }

  /** Loads a `saveNB` artifact, refusing loudly on: the Artifacts meta
    * refusals (only v2 reads), missing weight columns, a weight row
    * count that disagrees with the meta (lost/duplicated partitions),
    * or non-finite scalars. The row count check sums the weight
    * files' parquet footers on the driver — no Spark job. */
  def loadNB(spark: org.apache.spark.sql.SparkSession, path: String): NBModel = {
    val r = Artifacts.readMeta(spark, s"$path/meta", "NB model",
      ModelFormatVersion to ModelFormatVersion).row
    val (bias, oovW) = (r.getAs[Double]("bias"), r.getAs[Double]("oov_w"))
    val vocab = r.getAs[Long]("vocab_size")
    val alpha = r.getAs[Double]("alpha")
    require(!bias.isNaN && !bias.isInfinite && !oovW.isNaN && !oovW.isInfinite,
      s"non-finite bias/oovW in NB model artifact at $path")
    require(vocab >= 1, s"NB model artifact at $path declares vocab_size $vocab")
    require(alpha > 0.0 && alpha.isFinite,
      s"NB model artifact at $path has alpha $alpha, must be positive finite")
    val nRows = r.getAs[Long]("n_rows")
    val weights = Artifacts.scan(spark, s"$path/weights")
    val w = weights.df
    Seq("token", "c1", "c0", "w").foreach(c =>
      require(w.columns.contains(c),
        s"NB weights at $path are missing column '$c' — refusing to serve"))
    // drift check against the LANDED count the saver read back, not
    // vocab_size (ADVICE r13): a model whose vocabSize disagrees with
    // its weights relation saves fine and must load fine — the check
    // exists to catch lost/duplicated partitions, not semantic fields
    val n = weights.rows
    require(n == nRows,
      s"NB weights at $path have $n rows but the meta row says $nRows — " +
        "partial or duplicated write, refusing to serve")
    NBModel(w.select(col("token"), col("c1"), col("c0"), col("w")),
      bias, oovW, vocab, alpha)
  }

  /** Multiclass model: `weights` = (token, cls, w) with
    * w = ln(c(t,cls)+α) − ln(T_cls+αV); per-class scalars (prior =
    * ln n_cls − ln N, oovW = ln α − ln(T_cls+αV)) are driver-held —
    * O(classes) state, the model table stays vocab×classes. */
  final case class NBMulticlassModel(weights: DataFrame,
                                     classes: Seq[String],
                                     priors: Map[String, Double],
                                     oovW: Map[String, Double],
                                     alpha: Double)

  /** One-pass multiclass trainer over a string class column: ONE
    * groupBy(token, class) partial agg to the model table, one tiny
    * per-class doc/token-count collect (O(classes) rows). The weight
    * table is DENSE over vocab×classes (zero counts included via the
    * class cross join) so scoring needs no per-class OOV fallback for
    * in-vocabulary tokens — only fully-unseen tokens take `oovW`. */
  def trainMulticlass(df: DataFrame, idCol: String, textCol: String,
                      classCol: String, alpha: Double = 1.0)
      : NBMulticlassModel = {
    require(alpha > 0.0 && alpha.isFinite, s"alpha must be positive, got $alpha")
    val docCounts = df.groupBy(col(classCol).cast("string").as("cls"))
      .agg(count(lit(1)).as("n")).collect()
      .map { r =>
        require(!r.isNullAt(0),
          s"class column '$classCol' contains NULLs")
        r.getString(0) -> r.getLong(1)
      }.toMap
    require(docCounts.size >= 2,
      s"need >= 2 classes to train, saw ${docCounts.size}")
    val classes = docCounts.keys.toSeq.sorted
    val n = docCounts.values.sum

    val tf = termFreqs(df, idCol, textCol)
      .join(df.select(col(idCol), col(classCol).cast("string").as("__c")),
        Seq(idCol))
    val perTokCls = tf.groupBy(col("token"), col("__c").as("cls"))
      .agg(sum(col("tf")).as("c"))
    // densify over vocab × classes so every in-vocab (token, cls)
    // carries a smoothed weight even at count 0
    val sp = df.sparkSession
    import sp.implicits._
    val dense = perTokCls.select(col("token")).distinct()
      .crossJoin(classes.toDF("cls"))
      .join(perTokCls, Seq("token", "cls"), "left")
      .select(col("token"), col("cls"),
        coalesce(col("c"), lit(0L)).as("c"))
      .localCheckpoint() // pin: the totals job + weight plan share one scan
    val totals = dense.groupBy(col("cls")).agg(sum(col("c")).as("t"),
        count(lit(1)).as("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val denomByCls = typedlit(classes.map { c =>
      val (t, v) = totals(c); c -> (t + alpha * v)
    }.toMap)
    val weights = dense.withColumn("w",
      log(col("c") + alpha) - log(element_at(denomByCls, col("cls"))))
    NBMulticlassModel(weights, classes,
      priors = classes.map(c =>
        c -> (math.log(docCounts(c).toDouble) - math.log(n.toDouble))).toMap,
      oovW = classes.map { c =>
        val (t, v) = totals(c); c -> (math.log(alpha) - math.log(t + alpha * v))
      }.toMap,
      alpha = alpha)
  }

  /** Persists an `NBMulticlassModel` — the multiclass symmetry of
    * `saveNB`: the dense vocab×classes weight table under `weights/`,
    * and the Artifacts meta (alpha, the sorted class list, the
    * per-class priors and OOV weights aligned to it, and the expected
    * weight row count) under `meta/`. */
  def saveNBMulticlass(spark: org.apache.spark.sql.SparkSession, path: String,
                       model: NBMulticlassModel): Unit = {
    val w = model.weights.select(col("token"), col("cls"), col("c"), col("w"))
    w.write.mode("overwrite").parquet(s"$path/weights")
    val n = Artifacts.scan(spark, s"$path/weights").rows
    Artifacts.writeMeta(spark, s"$path/meta", (MulticlassFormatVersion,
        model.alpha, model.classes, model.classes.map(model.priors),
        model.classes.map(model.oovW), n),
      "version", "alpha", "classes", "priors", "oovs", "n_weights")
  }

  /** Loads a `saveNBMulticlass` artifact with the same loud-refusal
    * contract as `loadNB`: the Artifacts meta refusals, class-list
    * integrity (non-empty, sorted, distinct — the argmax tie-break
    * depends on it), prior/oov alignment, finite scalars, and a
    * weight row count that must equal the meta's dense
    * vocab×classes expectation (a lost or duplicated partition is
    * refused, not silently mis-scored). */
  def loadNBMulticlass(spark: org.apache.spark.sql.SparkSession, path: String)
      : NBMulticlassModel = {
    val r = Artifacts.readMeta(spark, s"$path/meta", "NB multiclass model",
      MulticlassFormatVersion to MulticlassFormatVersion).row
    val alpha = r.getAs[Double]("alpha")
    require(alpha > 0.0 && alpha.isFinite,
      s"NB multiclass artifact at $path has alpha $alpha, must be positive finite")
    val classes = r.getAs[scala.collection.Seq[String]]("classes").toSeq
    require(classes.nonEmpty && classes == classes.distinct.sorted,
      s"NB multiclass artifact at $path has a corrupt class list (must be " +
        s"non-empty, sorted, distinct): $classes")
    val priors = r.getAs[scala.collection.Seq[Double]]("priors").toSeq
    val oovs = r.getAs[scala.collection.Seq[Double]]("oovs").toSeq
    require(priors.length == classes.length && oovs.length == classes.length,
      s"NB multiclass artifact at $path: priors/oovs misaligned with classes " +
        s"(${priors.length}/${oovs.length} vs ${classes.length})")
    require((priors ++ oovs).forall(v => !v.isNaN && !v.isInfinite),
      s"non-finite priors/oovs in NB multiclass artifact at $path")
    val nWeights = r.getAs[Long]("n_weights")
    require(nWeights >= classes.length,
      s"NB multiclass artifact at $path declares $nWeights weight rows")
    val weights = Artifacts.scan(spark, s"$path/weights")
    val w = weights.df
    Seq("token", "cls", "c", "w").foreach(c =>
      require(w.columns.contains(c),
        s"NB multiclass weights at $path are missing column '$c' — refusing to serve"))
    val n = weights.rows
    require(n == nWeights,
      s"NB multiclass weights at $path have $n rows but the meta row says " +
        s"$nWeights — partial or duplicated write, refusing to serve")
    NBMulticlassModel(w.select(col("token"), col("cls"), col("c"), col("w")),
      classes, priors = classes.zip(priors).toMap,
      oovW = classes.zip(oovs).toMap, alpha = alpha)
  }

  /** Per-(doc, class) scores: prior_c + Σ tf·w(t, c), with unseen
    * tokens taking the per-class smoothed `oovW`. One tf build, one
    * small cross join against the class list, one LEFT equi-join on
    * (token, cls) against the model table, one per-(doc, cls) partial
    * agg. Output: (idCol, cls, score). Argmax is the caller's move —
    * typically on QUANTIZED scores so the decision is exact. */
  def scoreMulticlass(df: DataFrame, idCol: String, textCol: String,
                      model: NBMulticlassModel): DataFrame = {
    val priorByCls = typedlit(model.priors)
    val oovByCls = typedlit(model.oovW)
    val sp = df.sparkSession
    import sp.implicits._
    termFreqs(df, idCol, textCol)
      .crossJoin(model.classes.toDF("cls"))
      .join(model.weights.select(col("token"), col("cls"), col("w")),
        Seq("token", "cls"), "left")
      .groupBy(col(idCol), col("cls"))
      .agg((sum(col("tf") *
          coalesce(col("w"), element_at(oovByCls, col("cls"))))
        + element_at(priorByCls, col("cls"))).as("score"))
  }
}
