package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.VectorOps

/** External cluster-validation metrics — the reference's headline
  * quality number (`KMeans.java:623-665`, printed at `:662-663`).
  *
  * The reference materializes two n×n boolean co-membership matrices
  * (ground truth vs prediction over ALL ordered pairs, diagonal
  * included) and counts agreements — O(n²) memory and time on the
  * driver. At 100 TB that is impossible; the same numbers fall out of
  * the (truth, pred) contingency table, one grouped count, collected
  * (O(labels × clusters) cells), then driver arithmetic:
  *
  *   n_tp = |rows with truth=t, pred=p|   (the contingency cells)
  *   M11  = Σ_{t≠-1, p≠-1} n_tp²          (pairs co-clustered in both)
  *   G    = Σ_{t≠-1} (Σ_p n_tp)²          (pairs co-clustered in truth)
  *   P    = Σ_{p≠-1} (Σ_t n_tp)²          (pairs co-clustered in pred)
  *   disagree = G + P − 2·M11
  *   J    = M11 / (M11 + disagree) = M11 / (G + P − M11)
  *
  * The `-1` label is excluded from co-membership on BOTH sides,
  * reproducing the outlier convention at `KMeans.java:629,640` (iyer
  * dataset outliers). Squared cell counts appear because the reference
  * counts ordered pairs including (i,i). A NULL label, as in SQL,
  * co-clusters on neither side but counts in n. Each metric's final
  * Column arithmetic runs over a 1-row local frame of the exact counts,
  * so 0/0 is Spark's own (NULL, or DIVIDE_BY_ZERO under ANSI) and
  * reading the returned frame runs no job.
  */
object ClusterMetrics {

  private final case class Cell(truth: Option[Long], pred: Option[Long], n: Long)

  /** The contingency cells (a NULL label is None): one grouped count,
    * run when the calling metric is called. */
  private def cells(assigned: DataFrame, truthCol: String, predCol: String): Seq[Cell] = {
    import assigned.sparkSession.implicits._
    assigned
      .select(col(truthCol).cast("long").as("truth"), col(predCol).cast("long").as("pred"))
      .groupBy("truth", "pred").count()
      .as[(Option[Long], Option[Long], Long)].collect().toSeq.map(Cell.tupled)
  }

  private def total(xs: Iterable[Long]): Long = xs.foldLeft(0L)(Math.addExact)

  private def sumSq(xs: Iterable[Long]): Long = total(xs.map(x => Math.multiplyExact(x, x)))

  private def longRow(like: DataFrame, nullable: Boolean)(cols: (String, Any)*): DataFrame =
    like.sparkSession.createDataFrame(
      java.util.Collections.singletonList(Row(cols.map(_._2): _*)),
      StructType(cols.map(c => StructField(c._1, LongType, nullable))))

  /** 1-row frame (m11, g, p, ntot) of the header's counts. */
  private def pairCounts(assigned: DataFrame, truthCol: String, predCol: String): DataFrame = {
    val cs = cells(assigned, truthCol, predCol)
    def member(k: Option[Long]) = k.exists(_ != -1L)
    def side(key: Cell => Option[Long]) =
      sumSq(cs.filter(c => member(key(c))).groupBy(key).values.map(g => total(g.map(_.n))))
    longRow(assigned, nullable = false)(
      "m11" -> sumSq(cs.filter(c => member(c.truth) && member(c.pred)).map(_.n)),
      "g" -> side(_.truth), "p" -> side(_.pred), "ntot" -> total(cs.map(_.n)))
  }

  /** One-row DataFrame (m11, disagree, jaccard) for an assignment
    * table carrying a ground-truth and a predicted cluster column.
    * All counts are exact longs; `jaccard` is one double division of
    * exact integers, so it is bit-deterministic cross-engine. The
    * contingency count runs when this is called. */
  def jaccard(assigned: DataFrame, truthCol: String, predCol: String): DataFrame =
    pairCounts(assigned, truthCol, predCol).select(
      col("m11"),
      (col("g") + col("p") - lit(2L) * col("m11")).as("disagree"),
      (col("m11") / (col("g") + col("p") - col("m11"))).as("jaccard"))

  /** Rand index under the same ordered-pairs-with-diagonal convention
    * as the reference's Jaccard: agreement = co-clustered in both
    * (M11) or in neither (M00 = n² − G − P + M11, where rows labeled
    * -1 never co-cluster). The contingency count runs when this is
    * called. Output: (m11, m00, rand). */
  def randIndex(assigned: DataFrame, truthCol: String, predCol: String): DataFrame =
    pairCounts(assigned, truthCol, predCol).select(
      col("m11"),
      (col("ntot") * col("ntot") - col("g") - col("p") + col("m11")).as("m00"),
      ((col("m11") + col("ntot") * col("ntot") - col("g") - col("p") + col("m11"))
        .cast("double") / (col("ntot") * col("ntot")).cast("double")).as("rand"))

  /** Cluster purity: each predicted cluster votes its majority truth
    * label; purity = correctly-voted rows / all rows. No outlier
    * convention (every row counts — standard definition; a NULL pred
    * is a cluster). The contingency count runs when this is called.
    * Output: (correct, n, purity), all NULL on empty input. */
  def purity(assigned: DataFrame, truthCol: String, predCol: String): DataFrame = {
    val byPred = cells(assigned, truthCol, predCol).groupBy(_.pred).values.map(_.map(_.n))
    def totalOrNull(xs: Iterable[Long]): Any = if (byPred.isEmpty) null else total(xs)
    longRow(assigned, nullable = true)(
      "correct" -> totalOrNull(byPred.map(_.max)), "n" -> totalOrNull(byPred.map(total)))
      .select(col("correct"), col("n"),
        (col("correct").cast("double") / col("n").cast("double")).as("purity"))
  }

  /** Centroid `cid`'s vector, looked up in the plan literal. */
  private def centOf(cents: KMeans.Centroids, cid: Column): Column =
    element_at(filter(KMeans.centLit(cents), c => c.getField("_1") === cid), 1).getField("_2")

  /** Simplified (centroid-based) silhouette: per row, a = distance to
    * own centroid, b = distance to the nearest OTHER centroid,
    * s = (b - a) / max(a, b); the score is the mean of s. The O(n²)
    * pairwise silhouette is impossible at scale; the centroid form is
    * the standard approximation — one rowwise pass against the k×d
    * broadcast. Rows whose a = b = 0 (point exactly on two centroids)
    * contribute 0. Requires k ≥ 2 (b is undefined otherwise).
    *
    * sortedFold=false (default, the SCALE path): distributed partial
    * avg — O(1) state per task. sortedFold=true (the oracle twin):
    * collect_list + sorted sequential fold, bit-exact vs DuckDB but
    * O(n) in one aggregation buffer — correctness gates only. */
  def simplifiedSilhouette(assigned: DataFrame, featCol: String,
                           cents: KMeans.Centroids, clusterCol: String = "cluster",
                           sortedFold: Boolean = false): DataFrame = {
    require(cents.length >= 2,
      s"silhouette needs >= 2 centroids (b is undefined for k=1), got ${cents.length}")
    val f = VectorOps.toDouble(col(featCol))
    val dists = transform(KMeans.centLit(cents), c =>
      struct(sqrt(VectorOps.sqDist(f, c.getField("_2"))).as("d"),
        c.getField("_1").as("cid")))
    val a = element_at(filter(dists, s => s.getField("cid") === col(clusterCol)), 1)
      .getField("d")
    val b = array_min(transform(
      filter(dists, s => s.getField("cid") =!= col(clusterCol)),
      s => s.getField("d")))
    val s = when(greatest(a, b) > 0.0, (b - a) / greatest(a, b)).otherwise(lit(0.0))
    val scored = assigned.select(s.as("s"))
    if (sortedFold)
      scored.agg(collect_list(col("s")).as("ss"))
        .select(
          (VectorOps.foldSum(array_sort(col("ss"))) / size(col("ss"))).as("silhouette"),
          size(col("ss")).cast("long").as("n"))
    else
      scored.agg(avg(col("s")).as("silhouette"), count(lit(1)).as("n"))
  }

  /** Calinski-Harabasz index (the variance-ratio criterion — public
    * formula): CH = (B/(k-1)) / (W/(n-k)) with B = Σ_c n_c·d²(c̄_c, μ)
    * (between-cluster dispersion vs the overall mean μ) and W =
    * Σ_x d²(x, c̄_{cluster(x)}) (within-cluster dispersion). Higher is
    * better; the standard internal "did k make sense" check next to
    * the silhouette. Takes the centroids the fit produced — B costs
    * k×d driver-free plan arithmetic, never a second pass.
    *
    * Scale shape: the projected (cluster, own-d², vector) relation is
    * computed once and PINNED (three aggregates read it — W, sizes,
    * overall mean; without the cache each would re-scan and re-assign
    * the corpus); own-d² is ONE sqDist against the row's own centroid
    * (looked up in the plan literal — never all k distances); B folds
    * k terms IN CID ORDER over the centroid plan literal. sortedFold
    * as in simplifiedSilhouette: false = distributed partial aggs
    * (the scale path), true = collect_list + sorted sequential folds,
    * bit-exact vs DuckDB — correctness gates only.
    * Output one row: (ch, b, w, n); ch is NULL when n ≤ k (the
    * criterion is undefined — zero within-cluster degrees of
    * freedom), never an ANSI division error. */
  def calinskiHarabasz(assigned: DataFrame, featCol: String, cents: KMeans.Centroids,
                       clusterCol: String = "cluster",
                       sortedFold: Boolean = false): DataFrame = {
    require(cents.length >= 2, s"CH needs >= 2 centroids, got ${cents.length}")
    val k = cents.length
    val f = VectorOps.toDouble(col(featCol))
    val ownD2 = VectorOps.sqDist(f, centOf(cents, col(clusterCol)))
    val scored = Dedup.pin(
      assigned.select(col(clusterCol).as("__c"), ownD2.as("__d2"), f.as("__v")))
    val wRow =
      if (sortedFold)
        scored.agg(VectorOps.sortedSum(col("__d2")).as("w"),
          count(lit(1)).cast("long").as("n"))
      else scored.agg(sum(col("__d2")).as("w"), count(lit(1)).cast("long").as("n"))
    val perPos = scored.select(posexplode(col("__v")).as(Seq("__p", "__x"))).groupBy("__p")
    val muRow =
      (if (sortedFold)
        perPos.agg((VectorOps.sortedSum(col("__x")) / count(lit(1))).as("__m"))
      else perPos.agg(avg(col("__x")).as("__m")))
        .agg(transform(sort_array(collect_list(struct(col("__p"), col("__m")))),
          s => s.getField("__m")).as("__mu"))
    val ncRow = scored.groupBy(col("__c")).agg(count(lit(1)).cast("long").as("__nc"))
      .agg(sort_array(collect_list(struct(col("__c"), col("__nc")))).as("__ncs"))
    // B: k terms folded in cid order (the plan literal is cid-sorted)
    // — a pinned fold order both engines replay; vanished clusters
    // contribute n_c = 0
    val bTerms = transform(KMeans.centLit(cents), c => {
      val hits = filter(col("__ncs"), s => s.getField("__c") === c.getField("_1"))
      val nc = when(size(hits) > 0, element_at(hits, 1).getField("__nc")).otherwise(lit(0L))
      nc.cast("double") * VectorOps.sqDist(c.getField("_2"), col("__mu"))
    })
    val b = VectorOps.foldSum(bTerms)
    wRow.crossJoin(muRow).crossJoin(ncRow)
      .select(when(col("n") > k,
          (b / (k - 1)) / (col("w") / (col("n") - k))).as("ch"),
        b.as("b"), col("w"), col("n"))
  }

  /** Davies-Bouldin index (public formula): DB = (1/k')·Σ_i max_{j≠i}
    * (S_i + S_j) / d(c̄_i, c̄_j), with S_i the mean Euclidean distance
    * of cluster i's points to their centroid and d the centroid
    * distance — lower is better, the "are clusters compact AND far
    * apart" twin of Calinski-Harabasz above. Only clusters that
    * actually hold points participate (k' = surviving clusters; a
    * vanished centroid has no S and would make every ratio
    * undefined); DB is NULL when fewer than 2 survive.
    *
    * Scale shape: ONE corpus pass — per-row distance to the row's own
    * centroid (plan-literal lookup, never all k), then a per-cluster
    * mean (partial agg on ≤ k groups); everything after is k-bounded
    * plan arithmetic over the collected (cid, S) array — the k×k
    * ratio matrix never touches an executor-side join. The outer mean
    * folds in cid order (sort_array pins it); max_{j≠i} is
    * order-independent. sortedFold as in calinskiHarabasz: true =
    * collect_list + sorted sequential per-cluster means, bit-exact vs
    * DuckDB — correctness gates only; false = distributed partial
    * aggs, the scale path.
    * Output one row: (db, k_present, n). */
  def daviesBouldin(assigned: DataFrame, featCol: String, cents: KMeans.Centroids,
                    clusterCol: String = "cluster",
                    sortedFold: Boolean = false): DataFrame = {
    require(cents.length >= 2, s"DB needs >= 2 centroids, got ${cents.length}")
    val f = VectorOps.toDouble(col(featCol))
    val scored = assigned.select(col(clusterCol).as("__c"),
      sqrt(VectorOps.sqDist(f, centOf(cents, col(clusterCol)))).as("__d"))
    val perC = scored.groupBy(col("__c"))
    val sRows =
      if (sortedFold)
        perC.agg((VectorOps.sortedSum(col("__d"))
          / count(lit(1))).as("__s"), count(lit(1)).cast("long").as("__nc"))
      else perC.agg(avg(col("__d")).as("__s"), count(lit(1)).cast("long").as("__nc"))
    val packed = sRows.agg(
      sort_array(collect_list(struct(col("__c"), col("__s")))).as("__ss"),
      sum(col("__nc")).cast("long").as("n"))
    val rTerms = transform(col("__ss"), si =>
      array_max(transform(
        filter(col("__ss"), sj => sj.getField("__c") =!= si.getField("__c")),
        sj => (si.getField("__s") + sj.getField("__s"))
          / sqrt(VectorOps.sqDist(centOf(cents, si.getField("__c")),
            centOf(cents, sj.getField("__c")))))))
    packed.select(
      when(size(col("__ss")) >= 2,
        VectorOps.foldSum(rTerms) / size(col("__ss"))).as("db"),
      size(col("__ss")).cast("long").as("k_present"),
      col("n"))
  }

  /** Reference-literal O(n²) Jaccard over local pairs — test oracle
    * only, mirrors the matrix loops at `KMeans.java:624-661`. */
  def jaccardLocal(truthPred: Seq[(Int, Int)]): (Long, Long, Double) = {
    var m11 = 0L; var m0 = 0L
    for ((t1, p1) <- truthPred; (t2, p2) <- truthPred) {
      val g = t1 == t2 && t1 != -1
      val c = p1 == p2 && p1 != -1
      if (g && c) m11 += 1
      else if (g != c) m0 += 1
    }
    (m11, m0, m11.toDouble / (m11 + m0))
  }
}
