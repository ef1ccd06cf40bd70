package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.RandGlue
import org.apache.spark.storage.StorageLevel

import graft.functions.{KeyedRow, LloydSums, Md5Unit, VecChunk, VectorKernels, VectorOps}

/** Spark-native Lloyd's K-Means — the reference engine's entire reason
  * to exist (`KMeans.java` in rohitseb/K-Means-Hadoop), re-expressed
  * declaratively.
  *
  * Mapping from the reference (SURVEY.md §2):
  *  - centroid side-file read by every map task (`KMeans.java:40-74`)
  *    → a k×d literal embedded in the plan (tiny; ships once per task
  *    like a broadcast, no per-task HDFS read);
  *  - per-row argmin over centroids (`KMeans.java:98-113`)
  *    → `array_min(transform(centroids, struct(dist, cid)))` — a pure
  *    Catalyst higher-order-function fold that stays in whole-stage
  *    codegen; tie-break = lowest centroid id (the reference's de
  *    facto HashMap-order behavior, SURVEY.md §7.4.2);
  *  - map + combiner + reducer mean (`KMeans.java:78-198`)
  *    → one primitive loop per partition (VectorKernels.lloydSums)
  *    that assigns each row and adds it into k×d sums and k counts;
  *    each task returns those k×(d+1) numbers, NOT its rows — the
  *    reference's combiner only concatenated lists, so its shuffle was
  *    O(rows) — and the driver merges them in partition order;
  *  - iterative driver with HDFS file-swap (`KMeans.java:220-282`)
  *    → a driver loop over packed primitive blocks; only k×d doubles
  *    are ever collected. The input is read once per fit: its (id, f)
  *    projection is packed into VecChunks (a long[] of ids, a double[]
  *    of values with row offsets, per-row NULL flags) and persisted
  *    MEMORY_AND_DISK, and every init round and Lloyd step reads those
  *    chunks (the reference re-read and re-parsed the full input from
  *    HDFS every iteration; a columnar cache would be decoded back
  *    into rows every round).
  *
  * At cluster scale every init round and every Lloyd step is one
  * single-stage job: one primitive loop per partition over the
  * chunks (VectorKernels' round kernels), no exchange, O(k·d) per task
  * to the driver. No stage is O(rows) over the network (the k-means‖
  * parity cost and draw excepted, see Parallel), so the loop scales
  * linearly with data on executors and constant on the driver.
  */
object KMeans {

  /** Centroid set: (clusterId, vector), clusterId sorted ascending. */
  type Centroids = Array[(Int, Array[Double])]

  sealed trait Init
  /** Explicit row ids, renumbered 1..k in argument order
    * (`KMeans.java:597-606`). An id missing from the input, or whose
    * row has a NULL vector, refuses by name; a duplicated id takes its
    * last row. One job. */
  final case class ExplicitIds(ids: Seq[Long]) extends Init
  /** Seeded uniform row sample, renumbered 1..k. Replaces the
    * reference's biased `Math.random()*10000 % n` draw
    * (`KMeans.java:584-592`) — a defect, not a semantic (SURVEY §7.5).
    * The k least rows by (rand(seed), id): each partition replays
    * rand's per-partition stream, one draw per row, and rows with a
    * NULL vector are then skipped. One job. */
  final case class RandomRows(k: Int, seed: Long) extends Init
  /** k rows with the lowest ids (NULL ids first, as orderBy sorts
    * them), renumbered 1..k; rows with a NULL vector are skipped. Fully
    * deterministic (no seed), which makes it the oracle-checkable
    * init. One job. */
  final case class FirstK(k: Int) extends Init
  /** k-means++ (D²-weighted) seeding: each next centroid is drawn with
    * probability ∝ squared distance to the nearest chosen one — the
    * init that makes Lloyd's convergence fast and stable in practice.
    * Deterministic AND partitioning-independent: the randomness is an
    * md5-derived uniform per (seed, round, id), and D²-weighted
    * sampling uses the exponential-race trick (argmin of -ln(u)/d²),
    * so re-running on a re-partitioned table picks the same seeds —
    * unlike rand()-based sampling. k single-stage jobs over the packed
    * (id, f) chunks — fit's own, or, for a standalone initCentroids,
    * chunks persisted for the init's lifetime: the first pick is the
    * least md5 unit (firstPick), each later one a race round
    * (plusPlusRound); every round returns one candidate per partition.
    * Every round skips rows with a NULL id or vector. */
  final case class PlusPlus(k: Int, seed: Long) extends Init

  /** k-means‖ (Bahmani et al., "Scalable K-Means++", VLDB'12 —
    * public paper): the oversampling init for LARGE k. PlusPlus
    * above needs k sequential passes (one per centroid); this takes
    * `rounds` passes TOTAL, each sampling every point independently
    * with probability min(1, l·d²(x,C)/cost(C)) — expected ~l new
    * candidates per round, drawn in one distributed scan — then
    * weights the ~rounds·l candidates by assignment counts and
    * reduces them to k with a driver-side weighted ++ race (the
    * candidate set is k·rounds rows, broadcast-sized, never the
    * corpus). l = 0 means the paper's default 2k. Like PlusPlus, the
    * passes read the packed (id, f) chunks: round 0, then a cost job
    * and a draw job per round, then one weight count — 2·rounds + 2
    * single-stage jobs.
    *
    * Determinism: every coin is an md5 unit of (seed, round, id) and
    * the driver-side reduction races on md5 units from the same
    * kernel (Md5Unit), so reruns are bit-identical. Caveat, stated
    * honestly: unlike PlusPlus (whose race avoids any global sum),
    * the acceptance probability divides by cost(C) — a distributed
    * FP sum whose last-ulp value depends
    * on partition order, so a coin EXACTLY at the boundary could in
    * principle flip across different partitionings (~2⁻⁵⁰ per
    * point·round). Same-partitioning reruns are exactly stable.
    *
    * sortedCost = true computes each round's cost(C) with the
    * sorted-fold contract (VectorOps.sortedSum) —
    * bit-deterministic under ANY partitioning, which makes the whole
    * init (candidate set AND final k) oracle-replayable in SQL
    * (q_kmeans_parallel). Each task sorts its d² values and the
    * driver merges and folds them, so the driver receives one double
    * per point: it is the PARITY mode. The default — per-partition
    * sums merged in partition order — is the 100 TB scale path. */
  final case class Parallel(k: Int, seed: Long, rounds: Int = 5, l: Int = 0,
                            sortedCost: Boolean = false) extends Init

  /** Fit telemetry (op 16): iteration count matches the reference's
    * printed job count (`KMeans.java:283`); costHistory is the WCSS
    * after each Lloyd step when fit(trackCost = true) — empty
    * otherwise. Step i+1's kernel sums the cost of step i's
    * centroids, so the history costs one extra job per fit. */
  final case class KMeansModel(centroids: Centroids, iterations: Int, converged: Boolean,
                               costHistory: Seq[Double] = Nil)

  /** Pure-Scala Euclidean distance (driver-side convergence math),
    * same formula as `KMeans.java:116-122`. */
  def euclideanLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  private[operators] def centLit(cents: Centroids): Column =
    typedlit(cents.sortBy(_._1).map { case (cid, v) => (cid, v.toSeq) }.toSeq)

  /** Flat ascending-cid centroid arrays for the native kernels;
    * requires one uniform dimensionality (every real centroid set
    * has one — seeds are rows of one table). */
  private[graft] def flatCents(cents: Centroids): (Array[Int], Array[Double], Int) = {
    val sorted = cents.sortBy(_._1)
    val d = sorted.head._2.length
    val flat = new Array[Double](sorted.length * d)
    sorted.zipWithIndex.foreach { case ((_, v), i) =>
      require(v.length == d,
        s"centroid dims differ: ${v.length} vs $d — one uniform d required")
      System.arraycopy(v, 0, flat, i * d, d)
    }
    (sorted.map(_._1), flat, d)
  }

  /** Nearest-centroid id for a feature column (array<double>): one
    * native primitive argmin per row (NearestCentroidExpr) with the
    * deterministic lowest-id tie-break — bit-equal to the array_min-
    * over-struct(dist, cid) HOF kept below as the spec-pinned twin,
    * but inside whole-stage codegen with zero per-row allocations
    * (the HOF chain sat outside codegen — the same 16× per-row cost
    * the PQ kernels removed, here in every Lloyd pass). No UDF, no
    * shuffle. */
  def assignColumn(cents: Centroids, feat: Column): Column = {
    if (cents.isEmpty) return assignColumnHof(cents, feat)
    val (cids, flat, d) = flatCents(cents)
    VectorKernels.nearestCentroidCol(feat, cids, flat, d)
  }

  /** The HOF twin of assignColumn (spec-pinned in KMeansSpec). */
  private[graft] def assignColumnHof(cents: Centroids, feat: Column): Column =
    array_min(transform(centLit(cents), c =>
      struct(
        VectorOps.sqDist(feat, c.getField("_2")).as("dist"),
        c.getField("_1").as("cid")))).getField("cid")

  /** Squared distance to the nearest centroid (per-row cost term) —
    * native selection kernel, array_min-of-sqDists twin below. */
  def minSqDistColumn(cents: Centroids, feat: Column): Column = {
    if (cents.isEmpty) return minSqDistColumnHof(cents, feat)
    val (_, flat, d) = flatCents(cents)
    VectorKernels.minSqDistToSetCol(feat, flat, d)
  }

  /** The HOF twin of minSqDistColumn (spec-pinned in KMeansSpec). */
  private[graft] def minSqDistColumnHof(cents: Centroids, feat: Column): Column =
    array_min(transform(centLit(cents), c =>
      VectorOps.sqDist(feat, c.getField("_2"))))

  /** Adds a cluster-assignment column; input feature column may be
    * array<float> or array<double> (cast to double for the math). */
  def assign(df: DataFrame, featCol: String, cents: Centroids,
             outCol: String = "cluster"): DataFrame =
    df.withColumn(outCol, assignColumn(cents, VectorOps.toDouble(col(featCol))))

  /** One Lloyd iteration: assign + per-cluster element-wise mean
    * (reference map/combine/shuffle/reduce, `KMeans.java:78-198`) as
    * ONE single-stage job: each task packs its rows into VecChunks as
    * it streams them (one chunk live per task), runs
    * VectorKernels.lloydSums and returns k×(d+1) numbers, which the
    * driver merges in partition order and divides. Empty clusters
    * vanish, exactly like the reference's reducer (SURVEY §7.4.3);
    * pass keepEmpty=true for MLlib-style carry-over. A NULL vector
    * counts toward no mean, so a cluster whose only members are NULL
    * vectors is empty; a vector of the wrong length refuses ("ragged
    * vector"). */
  def step(df: DataFrame, featCol: String, cents: Centroids,
           keepEmpty: Boolean = false): Centroids =
    lloydStep(df.select(VectorOps.toDouble(col(featCol))).queryExecution.toRdd
      .mapPartitions(VecChunk.pack(_, -1, 0)), cents, keepEmpty)._1

  /** step() over chunks, and the cost of `cents` (the rows' summed d²,
    * partitions merged in order) — fit runs every step over its
    * persisted chunks, and its trackCost reads the cost of step i's
    * centroids off step i+1. */
  private def lloydStep(chunks: RDD[VecChunk], cents: Centroids,
                        keepEmpty: Boolean): (Centroids, Double) = {
    require(cents.nonEmpty, "a Lloyd step needs at least one centroid")
    val sorted = cents.sortBy(_._1)
    val (cids, flat, d) = flatCents(sorted)
    val total = chunks.mapPartitions(it => Iterator.single(VectorKernels.lloydSums(it, flat, d)))
      .collect().foldLeft(new LloydSums(cids.length, d))(_ merge _)
    val next = cids.indices.iterator.collect {
      case c if total.n(c) > 0L => cids(c) -> total.mean(c)
      case c if keepEmpty => sorted(c)
    }.toArray
    (next, total.cost)
  }

  /** Sorted-fold Lloyd step — the oracle-expressible FP-parity twin of
    * step(): per-(cluster, dim) means computed as a sequential left
    * fold over the SORTED group values (see q_centroid_update's
    * determinism contract), bit-identical to DuckDB's
    * `list_reduce(list_sort(list(v)), +)`. The scale path remains
    * step() (k×(d+1) numbers per task, summed in partition order);
    * this twin ships the group VALUES (O(rows·d)) through a shuffle
    * and exists so the iterative driver loop (ops 10-11) has a
    * bit-exact cross-engine correctness gate. */
  def stepSortedFold(df: DataFrame, featCol: String, cents: Centroids): Centroids = {
    val assigned = df.select(
      assignColumn(cents, VectorOps.toDouble(col(featCol))).as("cluster"),
      VectorOps.toDouble(col(featCol)).as("f"))
    assigned
      .select(col("cluster"), posexplode(col("f")).as(Seq("pos0", "v")))
      .groupBy(col("cluster"), col("pos0"))
      .agg(collect_list(col("v")).as("vs"))
      .select(col("cluster"), col("pos0"),
        (VectorOps.foldSum(array_sort(col("vs"))) / size(col("vs"))).as("val"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toArray
      .map { case (cid, dims) => cid -> dims.sortBy(_._2).map(_._3) }
      .sortBy(_._1)
  }

  /** Per-cluster membership id list (`KMeans.java:471` — the reducer's
    * pipe-joined member-id list, op 13). Output: (cluster, n,
    * member_ids sorted ascending). The reference rendered this into
    * the centroid text format; here it is a first-class table. One
    * O(rows) shuffle on the cluster key; the sorted array makes the
    * output deterministic. */
  def membershipLists(assigned: DataFrame, idCol: String,
                      clusterCol: String = "cluster"): DataFrame =
    assigned.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(col(idCol).cast("long"))).as("member_ids"))

  /** Reference convergence predicate (`KMeans.java:291-310`): same
    * cluster-id set AND per-centroid movement <= tol; tol=0.0
    * reproduces the exact-zero test at `KMeans.java:300-304`. A
    * vanished cluster (size mismatch) is never converged. */
  def isConverged(prev: Centroids, curr: Centroids, tol: Double): Boolean =
    prev.length == curr.length &&
      prev.sortBy(_._1).zip(curr.sortBy(_._1)).forall { case ((i1, v1), (i2, v2)) =>
        i1 == i2 && euclideanLocal(v1, v2) <= tol
      }

  /** Initial centroids for `init` over (idCol, featCol). The multi-
    * pass inits (PlusPlus, Parallel) persist the projection's chunks
    * for their own lifetime, so callers may pass an uncached frame;
    * the one-pass inits stream theirs. */
  def initCentroids(df: DataFrame, idCol: String, featCol: String, init: Init): Centroids = {
    val proj = projection(df, idCol, featCol)
    init match {
      case _: PlusPlus | _: Parallel => withPacked(proj)(initFrom(_, init))
      case _ => initFrom(packed(proj), init)
    }
  }

  /** The (id: long, f: array<double>) projection the inits read. */
  private def projection(df: DataFrame, idCol: String, featCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), VectorOps.toDouble(col(featCol)).as("f"))

  /** An (id, f) projection's rows packed into VecChunks in row order,
    * one partition per projection partition; lazy and unpersisted. */
  private[graft] def packed(proj: DataFrame): RDD[VecChunk] =
    proj.queryExecution.toRdd.mapPartitions(VecChunk.pack(_, 0, 1))

  /** `body` over the projection's chunks, persisted MEMORY_AND_DISK
    * (Dataset.cache's level) by the first round that reads them and
    * unpersisted after `body`. */
  private def withPacked[A](proj: DataFrame)(body: RDD[VecChunk] => A): A = {
    val chunks = packed(proj).setName("kmeans (id, f) chunks")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try body(chunks) finally { chunks.unpersist(blocking = false); () }
  }

  /** Picks renumbered 1..k in order. */
  private def numbered(picks: Seq[(Long, Array[Double])]): Centroids =
    picks.zipWithIndex.map { case ((_, v), i) => (i + 1) -> v }.toArray

  /** initCentroids over an (id, f) projection's chunks; persists
    * nothing — the caller decides whether the chunks are persisted.
    * FirstK and RandomRows skip rows with a NULL vector; ExplicitIds
    * refuses an id whose row has one. */
  private def initFrom(chunks: RDD[VecChunk], init: Init): Centroids =
    init match {
      case ExplicitIds(ids) =>
        val want = ids.toSet
        // in partition and row order: a duplicated id keeps its last row
        val byId = chunks.mapPartitions(VectorKernels.rowsWithIds(_, want)).collect().toMap
        ids.zipWithIndex.map { case (id, i) =>
          val v = byId.getOrElse(id,
            throw new NoSuchElementException(s"initial centroid id $id not in dataset"))
          require(v != null, s"initial centroid id $id has a NULL vector")
          (i + 1) -> v
        }.toArray
      case RandomRows(k, seed) => leastRows(chunks, k, Some(seed))
      case FirstK(k) => leastRows(chunks, k, None)
      case PlusPlus(k, seed) =>
        var chosen = Vector(firstPick(chunks, seed, "k-means++"))
        for (round <- 1 until k) {
          val next = plusPlusRound(chunks, numbered(chosen), seed, round)
          require(next.nonEmpty, s"k-means++: fewer than $k distinct points in the input")
          chosen = chosen :+ next.get
        }
        numbered(chosen)
      case Parallel(k, seed, rounds, l0, sortedCost) =>
        val lFactor = if (l0 > 0) l0 else 2 * k
        require(rounds >= 1, s"k-means parallel needs rounds >= 1, got $rounds")
        var cands = Vector(firstPick(chunks, seed, "k-means parallel"))
        var round = 1
        var exhausted = false
        while (round <= rounds && !exhausted) {
          val (_, flat, d) = flatCents(numbered(cands))
          // parity mode: partial-agg-order-free cost (see Parallel doc)
          val cost =
            if (sortedCost) sortedFold(
              chunks.mapPartitions(it => Iterator.single(VectorKernels.sortedSqDists(it, flat, d))).collect())
            else plainCost(chunks, flat, d)
          if (cost <= 0.0) exhausted = true // every point IS a candidate
          else {
            val prefix = s"$seed:$round:"
            // draw order varies with partitioning — a stable sort by id
            // gives the candidate sequence (and the weighted race
            // below) a deterministic order
            val drawn = chunks
              .mapPartitions(VectorKernels.parallelDraw(_, flat, d, prefix, lFactor.toDouble, cost))
              .collect().sortBy(_._1)
            val seen = cands.map(_._1).toSet
            cands ++= drawn.filter(c => !seen(c._1))
          }
          round += 1
        }
        require(cands.length >= k,
          s"k-means parallel sampled ${cands.length} candidates < k=$k — " +
            "raise rounds or l (or the input has too few distinct points)")
        // weight candidates by how many corpus points they serve
        val (_, flat, d) = flatCents(numbered(cands))
        val w = chunks.mapPartitions(it => Iterator.single(VectorKernels.nearestCounts(it, flat, d)))
          .collect().foldLeft(new Array[Long](cands.length)) { (acc, n) =>
            n.indices.foreach(i => acc(i) += n(i)); acc
          }
        val weighted = cands.zipWithIndex.map { case ((id, v), i) => (id, v, w(i).max(1L)) }.toArray
        weightedPlusPlusLocal(weighted, k, seed)
    }

  /** FirstK (no seed) or RandomRows: the k least rows in KeyedRow
    * order across partitions, the earlier partition first on a tie. */
  private def leastRows(chunks: RDD[VecChunk], k: Int, seed: Option[Long]): Centroids =
    chunks.mapPartitionsWithIndex((p, it) =>
        VectorKernels.leastRows(it, k, seed.map(RandGlue.stream(_, p)).orNull).iterator)
      .collect().sorted(KeyedRow.order).take(k)
      .zipWithIndex.map { case (r, i) => (i + 1) -> r.f }

  /** The cost of `cents` (flat, dim d): partition sums merged in
    * partition order. */
  private def plainCost(chunks: RDD[VecChunk], flat: Array[Double], d: Int): Double =
    chunks.mapPartitions(it => Iterator.single(VectorKernels.costSum(it, flat, d)))
      .collect().foldLeft(0.0)(_ + _)

  /** VectorOps.sortedSum over the partitions' sorted d² values: one
    * ascending fold from 0.0 (Arrays.sort merges the sorted runs). */
  private def sortedFold(parts: Array[Array[Double]]): Double = {
    val all = parts.flatten
    java.util.Arrays.sort(all)
    all.foldLeft(0.0)(_ + _)
  }

  /** Round 0 of PlusPlus and Parallel: the row with the least md5
    * unit of "seed:0:id", ties to the lower id. Rows with a NULL id or
    * a NULL vector are skipped, as the race rounds skip them. */
  private def firstPick(chunks: RDD[VecChunk], seed: Long, init: String): (Long, Array[Double]) =
    leastOf(chunks.mapPartitions(VectorKernels.leastUnit(_, s"$seed:0:")).collect())
      .getOrElse(throw new NoSuchElementException(
        s"$init: input DataFrame has no row with a non-NULL id and vector"))

  /** One k-means++ race round (1..k−1) as ONE single-stage job over
    * the chunks: exponential race, argmin of -ln(u)/d² samples ∝ d²
    * (VectorKernels.plusPlusRace per partition, then the minimum
    * (key, id) of the ≤ P entries, an equal pair going to the lower
    * partition). d² = 0 rows (points already chosen) are excluded, as
    * are NULL ids and NULL or malformed vectors. None when no row
    * qualifies. */
  private[graft] def plusPlusRound(chunks: RDD[VecChunk], soFar: Centroids, seed: Long,
                                   round: Int): Option[(Long, Array[Double])] = {
    val (_, flat, d) = flatCents(soFar)
    val prefix = s"$seed:$round:"
    leastOf(chunks.mapPartitions(VectorKernels.plusPlusRace(_, flat, d, prefix)).collect())
  }

  /** The least (key, id) of per-partition entries, an equal pair going
    * to the earlier partition. */
  private def leastOf(es: Array[(Double, Long, Array[Double])]): Option[(Long, Array[Double])] =
    es.reduceOption((a, b) => if (b._1 < a._1 || (b._1 == a._1 && b._2 < a._2)) b else a)
      .map(c => c._2 -> c._3)

  private def sqDistLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Weighted k-means++ over an in-memory candidate set — the final
    * reduction of the k-means parallel init. Same exponential-race
    * determinism as the distributed PlusPlus: first pick races
    * -ln(u)/w (weighted uniform), each next races -ln(u)/(w·d²);
    * candidates coinciding with a chosen point (d²=0) are excluded. */
  private[graft] def weightedPlusPlusLocal(cands: Array[(Long, Array[Double], Long)],
                                    k: Int, seed: Long): Centroids = {
    // the executors' md5-unit kernel, run on the driver
    val md = Md5Unit.newDigest()
    def u(round: Int, id: Long) = Md5Unit.unit(md, s"$seed:local:$round:$id")
    val first = cands.minBy { case (id, _, w) => (-math.log(u(0, id)) / w, id) }
    var chosen = Vector(first._1 -> first._2)
    var chosenIds = Set(first._1)
    for (round <- 1 until k) {
      val best = cands.iterator
        .filter(c => !chosenIds(c._1))
        .map { case (id, v, w) =>
          val d2 = chosen.iterator.map(c => sqDistLocal(v, c._2)).min
          val key = if (d2 > 0.0) -math.log(u(round, id)) / (w * d2)
                    else Double.PositiveInfinity
          (key, id, v)
        }
        .minBy(t => (t._1, t._2))
      require(!best._1.isInfinite,
        s"k-means parallel: fewer than $k distinct candidate points")
      chosen = chosen :+ (best._2 -> best._3)
      chosenIds += best._2
    }
    chosen.zipWithIndex.map { case ((_, v), i) => (i + 1) -> v }.toArray
  }

  /** Full iterative fit (`KMeans.java:220-282`). maxIter = -1 means
    * run to convergence (`KMeans.java:216,222-225`), with a hard
    * safety cap since exact-zero convergence + distributed FP
    * summation can in principle oscillate (SURVEY §7.4.1).
    * `iterations` counts Lloyd steps executed, matching the
    * reference's printed job count (`KMeans.java:283`).
    *
    * The fit packs its (id, f) projection into VecChunks once,
    * persisted by its first round, and every init round and Lloyd
    * step is one single-stage job over them: PlusPlus(k) + n steps is
    * k + n jobs. trackCost reads the cost after step i off step i+1's
    * kernel, so it adds one job per fit (the final cost): Parallel(k,
    * rounds = r) + n steps with trackCost is 2r + n + 3 jobs. Its sums
    * merge in partition order, where Spark's sum aggregate merges in
    * arrival order, so a cost may differ from the SQL sum in the last
    * ulp. */
  def fit(data: DataFrame, idCol: String, featCol: String, init: Init,
          maxIter: Int, tol: Double = 0.0, keepEmpty: Boolean = false,
          trackCost: Boolean = false): KMeansModel = {
    // init-only (maxIter=0, e.g. PQ's oracle-checkable codebooks):
    // one scan total — persisting would cost a materialization to save
    // nothing
    if (maxIter == 0)
      return KMeansModel(initCentroids(data, idCol, featCol, init), 0, converged = false)
    withPacked(projection(data, idCol, featCol)) { chunks =>
      var cents = initFrom(chunks, init)
      val cap = if (maxIter < 0) 10000 else maxIter
      var iter = 0
      var converged = false
      val costs = Seq.newBuilder[Double]
      while (!converged && iter < cap) {
        val (next, cost) = lloydStep(chunks, cents, keepEmpty)
        if (trackCost && iter > 0) costs += cost // the previous step's centroids
        converged = isConverged(cents, next, tol)
        cents = next
        iter += 1
      }
      if (trackCost) {
        val (_, flat, d) = flatCents(cents)
        costs += plainCost(chunks, flat, d)
      }
      KMeansModel(cents, iter, converged, costs.result())
    }
  }
}
